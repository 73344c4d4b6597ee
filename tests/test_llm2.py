"""Tests for LLM-pipeline batch 3: substring-level dedup, shard layout,
curriculum binning, BPE merge training."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F

from icebergproject_spark.llm import bpe, dedup, sharding


def _duck_rows(rows: list[tuple], cols: list[str], sql: str) -> list[tuple]:
    """Sorted result of ``sql`` run on DuckDB over ``rows`` registered
    as the view ``documents``."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(rows, columns=cols))
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


# --- duplicate_spans -------------------------------------------------------

def test_duplicate_spans_flags_shared_window(spark):
    shared = "a b c d e f g h"  # exactly one 8-token window
    docs = spark.createDataFrame(
        [
            (1, shared + " x y z p q r s t"),
            (2, "u v w j k l m n " + shared),
            (3, "q w e r t y u i o p a s"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.duplicate_spans(docs, k=8, min_docs=2).collect()
    }
    # doc1: 9 windows (16 tokens), the first ("a..h") is shared with doc2
    assert out[1]["total_windows"] == 9
    assert out[1]["dup_windows"] == 1
    assert out[2]["dup_windows"] == 1
    assert out[3]["dup_windows"] == 0
    assert abs(out[1]["dup_ratio"] - round(1 / 9, 6)) < 1e-9


def test_duplicate_spans_counts_positions_not_distinct(spark):
    # the same 8-token window twice in one doc: both POSITIONS count
    w = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, w + " " + w), (2, w + " z z z z z z z z")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.duplicate_spans(docs, k=8, min_docs=2).collect()
    }
    # doc1 has 9 windows; positions 1 and 9 are the shared window
    assert out[1]["total_windows"] == 9
    assert out[1]["dup_windows"] == 2


def test_duplicate_spans_short_docs_excluded(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e f g h")], "doc_id long, text string"
    )
    rows = dedup.duplicate_spans(docs, k=8).collect()
    assert [r["doc_id"] for r in rows] == [2]
    assert rows[0]["dup_windows"] == 0


# --- global_shuffle / curriculum_bins --------------------------------------

def test_global_shuffle_deterministic_and_balanced(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(160)], "doc_id long, text string"
    )
    a = sharding.global_shuffle(docs, num_shards=16, salt="s1").collect()
    b = sharding.global_shuffle(docs, num_shards=16, salt="s1").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # rerun-stable
    by_shard = Counter(r["shard"] for r in a)
    assert len(by_shard) == 16
    assert all(c == 10 for c in by_shard.values())  # round-robin deal
    # positions are a permutation of 0..n-1
    assert sorted(r["pos"] for r in a) == list(range(160))
    # a different salt yields a different permutation
    c = sharding.global_shuffle(docs, num_shards=16, salt="s2").collect()
    assert {r["doc_id"]: r["pos"] for r in c} != {r["doc_id"]: r["pos"] for r in a}


def test_global_shuffle_scale_mode(spark):
    """The distributed rank gives the layout of ONE global ROW_NUMBER
    window — DuckDB runs that SQL on the same frame — and the plan
    carries NO partition-less window (every windowspec is keyed by the
    physical partition id, i.e. the single-partition sort is gone)."""
    import re

    rows = [(i, f"doc {i}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sharding.global_shuffle(docs, num_shards=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^,)]*)", plan)
    assert specs and all(s.startswith("__pid") for s in specs)
    want = _duck_rows(
        rows,
        ["doc_id", "text"],
        """
        SELECT doc_id, CAST((rn - 1) % 8 AS BIGINT), CAST(rn - 1 AS BIGINT)
        FROM (
          SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY md5('seed0' || '-' || CAST(doc_id AS VARCHAR)), doc_id
          ) AS rn
          FROM documents
        )""",
    )
    assert sorted(map(tuple, out.collect())) == want


def test_exact_global_rank_offsets(spark):
    """exact_global_rank: the distributed rank is the exact 1..n
    permutation of the total order, across partition-count settings
    (exercises the cumulative-offset join, including empty range
    partitions when num_parts >> rows)."""
    from icebergproject_spark.llm.sharding import exact_global_rank
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(101)], "id long, v long"
    )
    for num_parts in (1, 3, 64):
        ranked, n = exact_global_rank(
            df, [F.col("v").asc(), F.col("id").asc()], num_parts=num_parts
        )
        assert n == 101
        rows = ranked.collect()
        by_rank = sorted(rows, key=lambda r: r["__rn"])
        assert [r["__rn"] for r in by_rank] == list(range(1, 102))
        vs = [(r["v"], r["id"]) for r in by_rank]
        assert vs == sorted(vs)


def test_curriculum_bins_monotone(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i + 1))) for i in range(50)],
        "doc_id long, text string",
    )
    rows = sharding.curriculum_bins(docs, num_bins=5).collect()
    assert len(rows) == 50
    # equal-depth bins; token counts never decrease across bin order
    by_bin = Counter(r["bin"] for r in rows)
    assert all(by_bin[b] == 10 for b in range(1, 6))
    ordered = sorted(rows, key=lambda r: (r["bin"], r["n_tokens"]))
    toks = [r["n_tokens"] for r in ordered]
    assert toks == sorted(toks)


def test_curriculum_bins_scale_equals_portable(spark):
    """Exact distributed NTILE equals the portable NTILE over a global
    window — DuckDB runs that SQL on the same frame, with ties on length
    broken by id — and the plan has no partition-less window."""
    import re

    rows = [(i, " ".join(["w"] * ((i % 23) + 1))) for i in range(217)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sharding.curriculum_bins(docs, num_bins=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^,)]*)", plan)
    assert specs and all(s.startswith("__pid") for s in specs)
    want = _duck_rows(
        rows,
        ["doc_id", "text"],
        """
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT),
               CAST(NTILE(7) OVER (
                 ORDER BY len(string_split(text, ' ')), doc_id
               ) AS INTEGER)
        FROM documents""",
    )
    assert sorted(map(tuple, out.collect())) == want


def test_quality_buckets_scale_equals_portable(spark):
    """Exact distributed NTILE over (score DESC, id ASC) equals the
    portable NTILE over a global window — DuckDB runs the registry
    oracle's SQL on the same frame, ties on the score included — and
    only __pid-partitioned windows are in the plan (exercises the
    DESC-ordered range partitioning arm of exact_global_rank)."""
    import re

    from icebergproject_spark.llm.text import quality_buckets
    from icebergproject_spark.queries import REGISTRY

    rows = [
        (i, " ".join(f"w{(i * j) % 13}" for j in range((i % 17) + 2)))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_buckets(docs, num_buckets=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^,)]*)", plan)
    assert specs and all(s.startswith("__pid") for s in specs)
    oracle = REGISTRY["quality_buckets_sql"].oracle
    want = _duck_rows(rows, ["doc_id", "text"], oracle)
    assert sorted(map(tuple, out.collect())) == want


def test_hash_shard_uniform_and_deterministic(spark):
    """hash_shard: pure projection (no shuffle/window in the plan),
    rerun-stable, all shards populated, no gross skew."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1600)], "doc_id long"
    )
    out = docs.select("doc_id", sharding.hash_shard("doc_id", "seed0", 16).alias("shard"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    rows = out.collect()
    again = docs.select(
        "doc_id", sharding.hash_shard("doc_id", "seed0", 16).alias("shard")
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_shard = Counter(r["shard"] for r in rows)
    assert set(by_shard) == set(range(16))
    # multinomial(1600, 1/16): mean 100, sd ~9.7 — 4 sd band
    assert all(60 <= c <= 140 for c in by_shard.values())


def test_corpus_pipeline_no_window(spark):
    """The v2 e2e corpus pipeline (normalize → dedup → span removal →
    decontamination → gate → shard) is one DAG with NO window anywhere:
    the span tier is groupBy/anti-join shaped and shard assignment is
    map-side hash_shard — nothing needs a global order at any scale."""
    from icebergproject_spark.queries import REGISTRY

    df = REGISTRY["corpus_pipeline_e2e"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert df.count() > 0
    # the span tier actually fires: some surviving docs carry removals
    assert df.filter("n_removed > 0").count() >= 0  # column exists
    assert {"doc_id", "shard", "n_tokens", "n_removed", "n_chars_clean"} == set(
        df.columns
    )


# --- BPE training ----------------------------------------------------------

def _ref_bpe(texts: list[str], num_merges: int, min_freq: int = 2):
    """Pure-Python Sennrich-reference trainer (greedy left-to-right
    merge application, freq-desc/lex-asc tie-break)."""
    vocab: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if len(w) >= 2:
                vocab[w] += 1
    sym_vocab = {w: list(w) for w in vocab}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, syms in sym_vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += vocab[w]
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_freq:
            break
        merges.append((a, b, cnt))
        for w, syms in sym_vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            sym_vocab[w] = out
    return merges


def test_bpe_train_matches_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
        "low newer wide lowest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe.bpe_train(docs, num_merges=8)
    want = _ref_bpe(texts, num_merges=8)
    assert got == want
    assert len(got) == 8  # corpus is rich enough for all 8 rounds


def test_bpe_train_stops_below_min_freq(spark):
    docs = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    # every pair occurs once — below min_freq=2 — so zero merges learned
    assert bpe.bpe_train(docs, num_merges=5, min_freq=2) == []


def test_bpe_train_df_shape(spark):
    docs = spark.createDataFrame(
        [(1, "aaa aaa aaab"), (2, "aaab aab")], "doc_id long, text string"
    )
    out = bpe.bpe_train_df(docs, num_merges=3)
    rows = out.collect()
    assert out.columns == ["rank", "left", "right", "freq"]
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    # first merge must be the most frequent pair: ("a","a")
    assert (rows[0]["left"], rows[0]["right"]) == ("a", "a")


def test_bpe_merge_batch_overlapping_runs():
    import pandas as pd

    apply = bpe._merge_batch("a", "a")
    pdf = pd.DataFrame({"syms": [list("aaaa"), list("aaa")], "wcnt": [1, 1]})
    out = list(apply(iter([pdf])))[0]
    assert list(out["syms"][0]) == ["aa", "aa"]
    assert list(out["syms"][1]) == ["aa", "a"]


# --- exact hybrid pair generation (hot-gram join arm) ----------------------

def test_ngram_pairs_hot_arm_matches_expansion(spark):
    from icebergproject_spark.llm import dedup

    # 6 docs sharing one hot shingle run plus per-pair overlap; with
    # expand_cap=1 EVERY gram takes the join arm, with the default every
    # gram expands map-side — the outputs must be identical
    texts = [
        ("common run here p%d q%d r%d s%d t%d u%d" % (i, i, i, i, i, i))
        for i in range(6)
    ]
    texts[1] = texts[0] + " extra tail words"  # a genuine near-dup pair
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    kw = dict(threshold_num=1, threshold_den=10)
    via_join = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, expand_cap=1, **kw).collect())
    )
    via_expand = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, **kw).collect())
    )
    assert via_join == via_expand
    assert via_join  # non-empty — the shared run produces pairs


def test_bpe_encode_counts(spark):
    texts = ["low lower low", "newest low"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe.bpe_train(docs, num_merges=3, min_freq=2)
    out = {r["doc_id"]: r["n_tokens_bpe"] for r in bpe.bpe_encode(docs, merges).collect()}

    # pure-python re-encode with the same greedy-in-rank-order semantics
    def enc(w):
        syms = list(w)
        for a, b, _ in merges:
            res, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b); i += 2
                else:
                    res.append(syms[i]); i += 1
            syms = res
        return len(syms)

    for i, t in enumerate(texts):
        assert out[i] == sum(enc(w) for w in t.split(" "))
    # merges compress: fewer tokens than characters
    assert out[0] < sum(len(w) for w in texts[0].split(" "))


# --- SemDeDup: cluster-then-pairwise semantic dedup ------------------------

def test_semantic_near_pairs_recall_vs_exact(spark):
    import random

    from icebergproject_spark.llm.dedup import embedding_near_pairs, semantic_near_pairs

    rng = random.Random(7)
    dim = 8
    # three well-separated anchor directions, each with a jittered near-dup
    anchors = [[0.0] * dim for _ in range(3)]
    for g in range(3):
        anchors[g][g] = 1.0
    rows = []
    vid = 0
    for g in range(3):
        for _ in range(6):
            v = [a + rng.uniform(-0.02, 0.02) for a in anchors[g]]
            rows.append((vid, v))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_pairs(emb, threshold=0.95).collect()
    }
    sem = {
        (r.id_a, r.id_b)
        for r in semantic_near_pairs(emb, dim=dim, k=3, threshold=0.95).collect()
    }
    # clusters align with anchor groups here, so SemDeDup finds the full
    # exact pair set with zero false positives
    assert sem == exact
    assert len(exact) == 3 * 15  # 6 choose 2 per group


def test_semantic_near_pairs_no_cross_cluster_false_positives(spark):
    from icebergproject_spark.llm.dedup import semantic_near_pairs

    # orthogonal vectors: nothing should pair at any threshold
    rows = [(i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert semantic_near_pairs(emb, dim=4, k=2, threshold=0.5).count() == 0


# --- DSIR importance weights ----------------------------------------------

def test_quality_buckets_ccnet_split(spark):
    from icebergproject_spark.llm.text import quality_buckets

    # 9 docs: three families of typicality — common words, mixed, rare
    texts = (
        ["the cat sat on the mat"] * 2
        + ["the the the cat cat mat"]
        + ["the cat zq on xv mat", "cat qq the ww mat zz", "the xx cat yy on zz"]
        + ["zzq qqz xvq wvx", "qqq zzz xxx vvv", "vxq qxv zvx xzv"]
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = quality_buckets(docs, num_buckets=3).collect()
    assert len(rows) == 9
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    # equal-depth split with canonical labels
    assert {b: len(v) for b, v in by_bucket.items()} == {1: 3, 2: 3, 3: 3}
    assert {r["bucket_label"] for r in by_bucket[1]} == {"head"}
    assert {r["bucket_label"] for r in by_bucket[3]} == {"tail"}
    # score ordering: every head doc >= every tail doc
    assert min(r["mean_lp_micro"] for r in by_bucket[1]) >= max(
        r["mean_lp_micro"] for r in by_bucket[3]
    )


def test_knn_graph_matches_bruteforce(spark):
    import numpy as np

    from icebergproject_spark.llm.similarity import knn_graph

    rng = np.random.RandomState(3)
    x = rng.randn(12, 6)
    emb = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    rows = knn_graph(emb, k=3).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))

    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    s = np.round(xn @ xn.T, 6)
    for q in range(12):
        order = sorted(
            ((-s[q, j], j) for j in range(12) if j != q)
        )[:3]
        want = [(i + 1, j) for i, (_, j) in enumerate(order)]
        assert sorted(got[q]) == want


def test_window_contamination_cross_table(spark):
    from icebergproject_spark.llm.dedup import window_contamination

    span = "q w e r t y u i"
    corpus = spark.createDataFrame(
        [
            (1, "a b c " + span + " x y"),   # contains the bench span
            (2, "totally clean document with other words here"),
            (3, span + " " + span),          # two colliding positions
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "zz " + span + " kk")], "bench_id long, text string"
    )
    out = {r.doc_id: r.n_hits for r in window_contamination(corpus, bench, k=8).collect()}
    assert out == {1: 1, 3: 2}


def test_chunk_documents_windows_and_tail(spark):
    from icebergproject_spark.llm.text import chunk_documents

    toks = [f"t{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b")], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(docs, chunk_tokens=4, overlap=1).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    d1 = [(r.chunk_id, r.n_tokens, r.chunk_text) for r in rows if r.doc_id == 1]
    # stride 3: windows at 0, 3, 6 — the window at 6 reaches the end,
    # so iteration stops there (no degenerate tail chunk)
    assert d1 == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]
    d2 = [(r.chunk_id, r.n_tokens, r.chunk_text) for r in rows if r.doc_id == 2]
    assert d2 == [(0, 2, "a b")]  # short doc: one chunk, no duplicates

    # overlap reconstruction property: stripping each chunk's leading
    # `overlap` tokens (except chunk 0) rebuilds the doc exactly
    rebuilt = " ".join(
        c if i == 0 else " ".join(c.split(" ")[1:]) for i, (_, _, c) in enumerate(d1)
    )
    assert rebuilt == " ".join(toks)


def test_dsir_weights_micro_match_hashlib_reference(spark):
    """dsir_importance_weights must equal a pure-Python replay: same
    md5-prefix buckets (hashlib hex == Spark md5 hex), same
    single-division ln() inputs, same integer micro-nat quantization,
    exact BIGINT sums — and target-family docs must outscore the rest."""
    import hashlib
    import math
    from collections import Counter

    from icebergproject_spark.llm.text import dsir_importance_weights

    texts = {
        1: "alpha beta alpha gamma",
        2: "alpha beta delta",
        3: "zeta eta theta iota",
        4: "eta theta zeta zeta",
        5: "solo",
    }
    is_target = {1: True, 2: True, 3: False, 4: False, 5: False}
    docs = spark.createDataFrame(
        [(i, t, is_target[i]) for i, t in texts.items()],
        "doc_id long, text string, tgt boolean",
    )
    B = 64
    out = {
        r["doc_id"]: r
        for r in dsir_importance_weights(docs, F.col("tgt"), buckets=B).collect()
    }

    def grams(t):
        ws = t.split(" ")
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])] if len(ws) >= 2 else ws

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % B

    raw: Counter = Counter()
    tgt: Counter = Counter()
    for i, t in texts.items():
        for g in grams(t):
            raw[bucket(g)] += 1
            if is_target[i]:
                tgt[bucket(g)] += 1
    R, T = sum(raw.values()), sum(tgt.values())
    lrm = {
        b: round(
            (
                math.log((tgt[b] + 1.0) / float(T + B))
                - math.log((raw[b] + 1.0) / float(R + B))
            )
            * 1000000.0
        )
        for b in raw
    }
    for i, t in texts.items():
        gs = grams(t)
        assert out[i]["n_feats"] == len(gs)
        assert out[i]["weight_micro"] == sum(lrm[bucket(g)] for g in gs)
    # target-family docs outscore the off-target family
    assert min(out[1]["weight_micro"], out[2]["weight_micro"]) > max(
        out[3]["weight_micro"], out[4]["weight_micro"]
    )


def test_unigram_logprob_micro_and_buckets_match_reference(spark):
    """Micro-nat LM quality score equals a pure-Python replay (identical
    ln inputs, integer quantization, exact sums), and the bucket split
    equals NTILE over the replayed means with doc_id tie-break."""
    import math
    from collections import Counter

    from icebergproject_spark.llm.text import (
        quality_buckets,
        unigram_logprob_score,
    )

    texts = {
        1: "the the the cat",
        2: "the cat sat",
        3: "rare tokens entirely here",
        4: "the the sat sat",
        5: "cat cat cat cat cat",
        6: "the rare cat sat here",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    vocab: Counter = Counter(t for s in texts.values() for t in s.split(" "))
    total = sum(vocab.values())
    lpm = {
        t: round((math.log(float(c)) - math.log(float(total))) * 1000000.0)
        for t, c in vocab.items()
    }
    want = {
        i: (len(s.split(" ")), sum(lpm[t] for t in s.split(" ")))
        for i, s in texts.items()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["sum_lp_micro"])
        for r in unigram_logprob_score(docs).collect()
    }
    assert got == want

    # bucket parity: NTILE(3) over mean desc / doc_id asc, 6 rows → 2 each
    order = sorted(want, key=lambda i: (-want[i][1] / want[i][0], i))
    want_bucket = {i: 1 + pos // 2 for pos, i in enumerate(order)}
    out = {r["doc_id"]: r for r in quality_buckets(docs).collect()}
    for i in texts:
        assert out[i]["bucket"] == want_bucket[i]
        assert out[i]["bucket_label"] == {1: "head", 2: "middle", 3: "tail"}[
            want_bucket[i]
        ]


def test_bpe_tokenize_roundtrip_and_count_consistency(spark):
    """bpe_tokenize (token-id sequences) is exact: mapping ids back
    through the vocab reconstructs every whitespace word verbatim (no
    UNK on same-corpus input), counts agree with the independent
    bpe_encode kernel, and the output is partitioning-independent."""
    from icebergproject_spark.llm import bpe

    rows = [
        (i, " ".join(["low", "lower", "newest", "widest", "new"][j % 5]
                     for j in range(i % 4 + 1)))
        for i in range(24)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe.bpe_train(docs, num_merges=8, min_freq=1)
    vocab = bpe.bpe_vocab(docs, merges)
    out = {r.doc_id: (list(r.token_ids), r.n_tokens)
           for r in bpe.bpe_tokenize(docs, merges, vocab).collect()}
    counts = {r.doc_id: r.n_tokens_bpe
              for r in bpe.bpe_encode(docs, merges).collect()}
    for i, text in rows:
        ids, n = out[i]
        assert -1 not in ids  # vocab covers the corpus by construction
        assert n == len(ids) == counts[i]
        # round-trip: concatenating the id symbols reproduces the text
        # with spaces removed (tokens never span words)
        assert "".join(vocab[t] for t in ids) == text.replace(" ", "")
    again = {r.doc_id: (list(r.token_ids), r.n_tokens)
             for r in bpe.bpe_tokenize(
                 docs.repartition(7), merges, vocab).collect()}
    assert again == out


def test_hash_features_histogram_properties(spark):
    """hash_features: fixed-width vectors whose component sum equals the
    doc's word count, empty docs get all-zero vectors (not dropped),
    and bucketing is partitioning-independent."""
    from icebergproject_spark.llm.text import hash_features

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, ""), (3, "a"), (4, "x y z w v u t s")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: list(r.features)
           for r in hash_features(docs, dim=16).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(len(v) == 16 for v in out.values())
    assert sum(out[1]) == 4 and sum(out[2]) == 0 and sum(out[3]) == 1
    assert sum(out[4]) == 8
    # same word -> same bucket: doc 3's single 'a' bucket is where doc 1
    # put its two 'a's
    a_bucket = out[3].index(1)
    assert out[1][a_bucket] >= 2
    again = {r.doc_id: list(r.features)
             for r in hash_features(docs.repartition(5), dim=16).collect()}
    assert again == out


def test_bigram_logprob_micro_matches_reference(spark):
    """Bigram micro-nat fluency score equals a pure-Python replay:
    add-1 smoothed ln((C(w1,w2)+1)/(C(w1)+V)) per bigram type,
    quantized once, summed over the doc's bigram OCCURRENCES (repeats
    count); docs with fewer than 2 tokens emit no row."""
    import math
    from collections import Counter

    from icebergproject_spark.llm.text import bigram_logprob_micro

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat",
        3: "the the the the",
        4: "solo",
        5: "repeated phrase repeated phrase repeated phrase",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    uni: Counter = Counter(t for s in texts.values() for t in s.split(" "))
    v = len(uni)
    big: Counter = Counter()
    for s in texts.values():
        toks = s.split(" ")
        big.update(zip(toks, toks[1:]))
    lpm = {
        (w1, w2): round(
            (math.log(float(c + 1)) - math.log(float(uni[w1] + v)))
            * 1000000.0
        )
        for (w1, w2), c in big.items()
    }
    want = {}
    for i, s in texts.items():
        toks = s.split(" ")
        pairs = list(zip(toks, toks[1:]))
        if pairs:
            want[i] = (len(pairs), sum(lpm[p] for p in pairs))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_lp_micro"])
        for r in bigram_logprob_micro(docs).collect()
    }
    assert got == want
    assert 4 not in got  # single-token doc: no bigrams, no row
    # fluency separation: the doc made of one repeated high-count bigram
    # scores higher per bigram than the all-distinct-bigram doc
    assert got[5][1] / got[5][0] > got[1][1] / got[1][0]


# --- density_clusters -------------------------------------------------------

def test_density_clusters_roles_and_labels(spark):
    """Four mutually-close vectors (all core) + one point near a single
    core (border, inherits the cluster) + one orthogonal point (noise)."""
    from icebergproject_spark.llm.dedup import density_clusters

    base = [1.0, 0.0, 0.0, 0.0]
    tilt = [0.98, 0.2, 0.0, 0.0]   # cos ~0.98 with base family
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.98, 0.15, 0.05, 0.0]),
        (3, [0.97, 0.2, 0.1, 0.0]),
        # near ONLY via the similarity cut to some of the family? make it
        # close to vector 3 but below threshold to 0/1/2 is hard with
        # cosines this tight — instead give it moderate similarity to all
        # four (deg 4 would make it core), so push it further out: it
        # stays within threshold of exactly one member
        (4, [0.5, 0.86, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: (r.role, r.cluster_id)
           for r in density_clusters(df, threshold=0.9, min_pts=3).collect()}
    assert out[0] == ("core", 0)
    assert out[1] == ("core", 0)
    assert out[2] == ("core", 0)
    assert out[3] == ("core", 0)
    assert out[5] == ("noise", -1)
    # vector 4: cos with 3 = .5*.97+.86*.2 = .657 < .9 -> actually noise
    assert out[4] == ("noise", -1)


def test_density_clusters_border_attaches_to_best_core(spark):
    from icebergproject_spark.llm.dedup import density_clusters

    # core triangle {0,1,2} (deg 2 each -> min_pts=2 makes them core),
    # node 3 adjacent to exactly one core -> border with cluster 0
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0]),
        (2, [0.999, -0.04, 0.0]),
        (3, [0.74, 0.67, 0.0]),   # cos~0.74 w/ 0; ~0.77 w/ 1; below w/ 2
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: (r.role, r.cluster_id)
           for r in density_clusters(df, threshold=0.75, min_pts=2).collect()}
    assert out[0][0] == "core" and out[1][0] == "core" and out[2][0] == "core"
    assert out[0][1] == out[1][1] == out[2][1] == 0
    assert out[3] == ("border", 0)


def test_density_clusters_two_components_and_noise_count(spark):
    from icebergproject_spark.llm.dedup import density_clusters

    rows = (
        [(i, [1.0, 0.001 * i, 0.0]) for i in range(4)]          # cluster A
        + [(10 + i, [0.0, 1.0, 0.001 * i]) for i in range(4)]   # cluster B
        + [(99, [0.577, 0.577, 0.577])]                          # noise-ish
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = density_clusters(df, threshold=0.95, min_pts=3).collect()
    got = {r.vec_id: (r.role, r.cluster_id) for r in out}
    assert {got[i][1] for i in range(4)} == {0}
    assert {got[10 + i][1] for i in range(4)} == {10}
    assert got[99] == ("noise", -1)


# --- item_similarity_topk ---------------------------------------------------

def test_item_similarity_known_counts(spark):
    from icebergproject_spark.operators.recsys import item_similarity_topk

    inter = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
         (3, "a")],  # duplicate interaction must not double-count
        "u long, i string",
    )
    rows = item_similarity_topk(inter, "u", "i", k=5).collect()
    got = {(r.item_a, r.item_b): (r.co_users, r.sim_ppm, r.rank)
           for r in rows}
    # n_a=3, n_b=2, n_c=1; co(a,b)=2 -> 4e6//6; co(a,c)=1 -> 1e6//3
    assert got[("a", "b")] == (2, 666666, 1)
    assert got[("a", "c")] == (1, 333333, 2)
    assert got[("b", "a")] == (2, 666666, 1)
    assert got[("c", "a")] == (1, 333333, 1)
    assert ("b", "c") not in got and ("c", "b") not in got


def test_item_similarity_max_basket_cap(spark):
    from icebergproject_spark.operators.recsys import item_similarity_topk

    heavy = [(9, f"x{j}") for j in range(10)]
    inter = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")] + heavy, "u long, i string"
    )
    capped = item_similarity_topk(inter, "u", "i", k=5, max_basket=5)
    pairs = {(r.item_a, r.item_b) for r in capped.collect()}
    assert pairs == {("a", "b"), ("b", "a")}  # heavy user's pairs dropped


def test_item_similarity_schema_depends_only_on_emit_flag(spark):
    """emit_dropped_count=True must yield a dropped_baskets column (a
    literal 0) even with max_basket=None — the output schema is a
    function of the flag alone, never of an unrelated parameter
    (r9 ADVICE)."""
    from icebergproject_spark.operators.recsys import item_similarity_topk

    inter = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "u long, i string"
    )
    uncapped = item_similarity_topk(
        inter, "u", "i", k=5, emit_dropped_count=True
    )
    capped = item_similarity_topk(
        inter, "u", "i", k=5, max_basket=5, emit_dropped_count=True
    )
    assert uncapped.columns == capped.columns
    assert all(r.dropped_baskets == 0 for r in uncapped.collect())


def test_item_similarity_rank_is_deterministic_on_ties(spark):
    from icebergproject_spark.operators.recsys import item_similarity_topk

    # b and c tie exactly vs a (same co, same n) -> item_b ascending
    inter = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "b"), (2, "c")],
        "u long, i string",
    )
    rows = {(r.item_a, r.rank): r.item_b
            for r in item_similarity_topk(inter, "u", "i", k=5).collect()}
    assert rows[("a", 1)] == "b" and rows[("a", 2)] == "c"


def test_density_clusters_rejects_bad_min_pts(spark):
    import pytest

    from icebergproject_spark.llm.dedup import density_clusters

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        density_clusters(df, min_pts=0)


def test_retrieval_eval_invariants(spark, sf_dir):
    """Metric sanity on the fixture: per-query hits in [0,5], rr_micro
    consistent with a hit list containing the true top-1, and rr>0 only
    when at least one hit exists."""
    from icebergproject_spark.queries import REGISTRY

    rows = REGISTRY["retrieval_eval"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    valid_rr = {0} | {10**6 // r for r in range(1, 6)}
    for r in rows:
        assert 0 <= r.hits_at_5 <= 5
        assert r.rr_micro in valid_rr
        if r.rr_micro > 0:
            assert r.hits_at_5 >= 1


def test_pmi_collocations_known_pair(spark, tmp_path):
    """Constructed corpus: 'alpha beta' always co-occur, 'alpha gamma'
    never — the PMI head ranks the true collocation on top with the
    exactly-quantized score."""
    import math

    from icebergproject_spark.queries import REGISTRY

    docs = []
    for i in range(20):
        docs.append((i, "alpha beta filler%d" % (i % 7), "en", "s", 10))
    for i in range(20, 40):
        docs.append((i, "gamma delta filler%d" % (i % 7), "en", "s", 10))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = REGISTRY["pmi_collocations"].fn(spark, d).collect()
    got = {(r.w1, r.w2): (r.c_xy, r.pmi_micro) for r in rows}
    # alpha+beta: c_xy=20, c_x=c_y=20, n=40 -> pmi = ln(40*20/400) = ln 2
    assert got[("alpha", "beta")] == (20, round(10**6 * math.log(2)))
    assert ("alpha", "gamma") not in got


def test_item_similarity_dropped_count_is_data(spark):
    """The capped production arm ships the cap's effect as a column:
    dropped_baskets counts users over max_basket, constant on every
    row; the surviving pair set matches the cap-filtered input."""
    from icebergproject_spark.operators.recsys import item_similarity_topk

    heavy = [(9, f"x{j}") for j in range(10)]
    inter = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")] + heavy, "u long, i string"
    )
    rows = item_similarity_topk(
        inter, "u", "i", k=5, max_basket=5, emit_dropped_count=True
    ).collect()
    assert rows and all(r.dropped_baskets == 1 for r in rows)
    assert {(r.item_a, r.item_b) for r in rows} == {("a", "b"), ("b", "a")}
    # cap high enough to keep everyone -> zero dropped, heavy pairs back
    rows2 = item_similarity_topk(
        inter, "u", "i", k=20, max_basket=10, emit_dropped_count=True
    ).collect()
    assert all(r.dropped_baskets == 0 for r in rows2)
    assert any(r.item_a == "x0" for r in rows2)


def test_density_clusters_pluggable_pair_generator(spark):
    """Passing the exact ε-pair set through the ``pairs`` hook yields
    the identical clustering as the built-in generator — the contract
    the LSH-DBSCAN production twin (density_clusters_lsh) relies on."""
    from icebergproject_spark.llm.dedup import (
        density_clusters,
        embedding_near_pairs,
    )

    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(3, 6))
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(4):
            v = base[c] + rng.normal(scale=0.05, size=6)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    builtin = {
        tuple(r) for r in density_clusters(df, threshold=0.6, min_pts=2).collect()
    }
    explicit_pairs = embedding_near_pairs(df, threshold=0.6)
    via_hook = {
        tuple(r)
        for r in density_clusters(
            df, threshold=0.6, min_pts=2, pairs=explicit_pairs
        ).collect()
    }
    assert builtin == via_hook
