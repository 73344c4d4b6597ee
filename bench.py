"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (totals + continuity, <1 KB — the driver
truncates long stdout lines, see VERDICT r7 ask #1):
{"metric": "...", "value": <total sec>, "unit": "sec", "sf": <sf>,
 "comparable_to_prev": {...}, "new_queries": {...}, "slowest5": {...},
 "queries_detail_file": "BENCH_DETAIL.json"}
and writes the full per-query map to BENCH_DETAIL.json (committed per
round; override path with $SPARK_GRAFT_BENCH_DETAIL).

Each query is forced to full execution with a count-style action (no
driver-side collection of big results). A warmup query amortizes JVM/codegen
startup so per-query numbers reflect steady-state throughput.

Per-query timing runs N times (default 3, $SPARK_GRAFT_BENCH_RUNS) and
reports the MEDIAN as the primary number (with the min alongside): the
first execution pays one-time Catalyst planning + whole-stage codegen
compilation (~0.5-1.5 s, independent of data size), which at any real
scale factor amortizes to zero, and the median resists the shared
host's single-run outliers. All runs execute fully.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F
from py4j.protocol import Py4JError

from icebergproject_spark.queries import REGISTRY
from icebergproject_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    # reference-parity pipeline shapes
    "user_points",
    "ods_browselog",
    "dwd_cleanse",
    "route_fact",
    "user_login_wide",
    "browse_wide",
    "product_visit_10s",
    # relational extensions
    "pricing_summary",
    "top_parts_by_revenue",
    "priority_with_returns",
    "shipping_priority",
    "local_supplier_volume",
    # temporal + advanced relational
    "asof_trade_quote",
    "user_sessions",
    "browse_pipeline_e2e",
    "part_taxonomy",
    # analytics extensions
    "daily_retention",
    "conversion_funnel",
    "quantity_price_corr",
    # LLM data-pipeline
    "dedup_exact",
    "duplicate_spans",
    "remove_duplicate_spans",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_sql",
    "dedup_verified",
    "dedup_verified_strict",
    "dedup_clusters",
    "dedup_embedding",
    "text_stats",
    "similarity_topk",
    "similarity_ivf",
    "similarity_multiprobe",
    "top_terms",
    "doc_keywords",
    "quality_filter",
    "lang_id",
    "stratified_sample",
    "bpe_pair_counts",
    "knn_graph",
    "corpus_pipeline_e2e",
    # round 4: oracle-strength IVF + the scale-defaulted rank family +
    # incremental (batch-vs-history) dedup
    "similarity_ivf_sql",
    "global_shuffle",
    "curriculum_bins",
    "dedup_incremental",
    "pii_redaction",
    "dsir_weights_sql",
    "quality_buckets_sql",
    "dedup_minhash_lsh_sql",
    "similarity_lsh_sql",
    "dedup_embedding_lsh_sql",
    "dedup_semantic_sql",
    "embedding_kmeans_sql",
    "dedup_clusters_lsh_sql",
    # round 6: two-step-Lloyd IVF (oracle-strength deeper-trained arm),
    # feature-hashing vectorization, and hashed-feature domain clustering
    "similarity_ivf_sql2",
    "text_hash_features",
    "doc_clusters_sql",
    # round 6, second session: MinHash estimator-error audit, Gopher rule
    # suite, PQ-ADC (oracle-strength SimHash is listed with the dedup heads)
    "minhash_error_audit",
    "gopher_rules",
    "similarity_pq_adc",
    "count_min_audit",
    "ngram_novelty",
    # round 7 heads (VERDICT r7 ask #3: no timing continuity yet) —
    # BM25 retrieval, PageRank/HITS integer-grid graph, RRF hybrid
    # fusion, OHLC resample, MAD outliers
    "bm25_topk",
    "pagerank_sql",
    "graph_hits",
    "hybrid_rrf",
    "events_ohlc",
    "event_outliers_mad",
    # round 8: integer-grid PCA oracle twin (VERDICT r7 ask #2) + real
    # PPM/BMP decode arm (ask #6)
    "embedding_pca_sql",
    "multimodal_decode",
    "pagerank_delta",
    "hll_audit",
    "dedup_prefix_filter",
    "doc_lsa_sql",
    "pagerank_personalized",
    "hdr_quantiles",
    "lm_bigram_score",
    # round 8, session 4: graph-analytics batch (triangles / link
    # prediction / weighted PageRank / label propagation)
    "knn_triangles",
    "link_prediction",
    "pagerank_weighted",
    "label_propagation",
    "fuzzy_join_parts",
    "events_autocorr",
    "gapfill_interpolate",
    "trend_theil_sen",
    "events_cusum",
    "benford_audit",
    "density_clusters",
    "item_similarity",
    "retrieval_eval",
    "fuzzy_join_snm",
    "events_ks_drift",
    "trend_ols",
    "purchase_attribution",
    "community_modularity",
    "pmi_collocations",
    "revenue_gini",
    # round 9: scale-path production twins (VERDICT r8 asks #1/#2/#4/#5)
    # — ANN-graph heads, edge-recall audit, capped item CF, localized
    # delta-PageRank, LSH-DBSCAN
    "knn_triangles_ann",
    "link_prediction_ann",
    "label_propagation_ann",
    "community_modularity_ann",
    "knn_edge_recall",
    "knn_edge_recall_multi",
    "item_similarity_capped",
    "pagerank_delta_local",
    "density_clusters_lsh",
    "kmv_audit",
    "bloom_audit",
    "graph_bfs_levels",
    "dq_audit",
    "graph_kcore",
    "graph_shortest_paths",
    "dataset_split",
    "leakage_safe_split",
    "label_propagation_ann4",
    "coreset_kcenter",
    # round 10: ANN evidence closure (VERDICT r9 asks #1/#4) — the
    # planes dial engaged in-plan, realistic near-dup recall, and
    # incremental ANN-graph maintenance proved equal to full rebuild
    "knn_edge_recall_dial",
    "neardup_pair_recall",
    "ann_graph_incremental",
    "ann_graph_incremental_multi",
    # round 11: ANN scale-policy closure (VERDICT r10 asks #1/#5) — the
    # flood guard engaged (decision hash-checked) and the bucketed
    # stored-state path read partition-pruned (equality hash-checked)
    "ann_graph_flood_guard",
    "ann_graph_incremental_bucketed",
    # round 11 batch 4: incremental connected components — the dedup-tier
    # maintenance proof (maintain == full re-cluster, hash-checked) and
    # its oracle-checked MERGE payload (changed-only emission)
    "dedup_clusters_incremental",
    "dedup_clusters_upserts",
    # round-12 heads: bucketed stored CC assignment (pruned read +
    # equality-delete upsert), CC flood guard engaged, zero-full-scan
    # store (node-bucketed probe + spill-index changed-scan)
    "dedup_clusters_bucketed",
    "dedup_clusters_flood_guard",
    "dedup_clusters_stored",
    # round-13 heads: the incremental LSH candidate feed at oracle
    # strength (stored bands + batch bands, no corpus self-join) and
    # the reseed branch of the level-up backfill policy (decision
    # arithmetic + overwrite commits + rebuilt spill index replayed)
    "dedup_lsh_candidates_incremental",
    "dedup_clusters_backfill_reseed",
    # round-13 third batch: the dim tier's Phoenix-parity batch GET —
    # bloomed multi-dir dim + equality-delete upsert answered through
    # the IN-list bounds/bloom-pruned read
    "dim_point_lookup",
    # round-13 fourth batch: the retrieval tier's stored-state proof
    # (maintained BM25 index serves the workload bucket-pruned) and the
    # mergeable top-k heavy-hitter sketch audit (the skew detector)
    "bm25_index_incremental",
    "heavy_hitters_audit",
    "er_fellegi_sunter",
    "events_ewma_control",
    "heaps_vocab_curve",
]

# the query set the PREVIOUS round's bench reported — the
# round-over-round continuity baseline. Totals across DIFFERENT sets
# mislead (the set grows every round), so the output splits the
# prev-round-comparable subtotal from the genuinely new queries'
# subtotal (NOTES.md: compare per-query, not totals).
PREV_ROUND_QUERIES = {
    q for q in BENCH_QUERIES
    if q not in (
        # entered the bench in round 13
        "dedup_lsh_candidates_incremental",
        "dedup_clusters_backfill_reseed",
        "dim_point_lookup",
        "bm25_index_incremental",
        "heavy_hitters_audit",
        "er_fellegi_sunter",
        "events_ewma_control",
        "heaps_vocab_curve",
    )
}

# queries whose SEMANTICS changed since the previous round — their
# comparable-subtotal contribution is not apples-to-apples and readers
# should compare them per-query against the change log instead.
# Round 4: none — corpus_pipeline_e2e kept its v2 (r3) semantics; the
# new scale-mode defaults (global_shuffle/curriculum_bins) produce
# byte-identical output and enter the bench as NEW rows.
# Round 12: outputs unchanged everywhere, but two heads' COST model
# changed deliberately (SCALE.md §r12) — compare per-query, not in the
# subtotal: dedup_prefix_filter (PPJoin array verify replaced the
# 34M-row expand-and-regroup; expect ~12s → ~7s and a tighter spread),
# ann_graph_incremental_multi (fixture-fingerprinted stored prev state;
# expect ~19.5s → ~8-11s warm).
# One hash family per LSH: MinHash heads now hash each shingle once
# (md5 prefix) and permute by affine maps (new candidate sets, pairs
# carry n_shared_bands).  The heads below depend on the MinHash candidate
# set; verified/exact-checked heads (dedup_verified, dedup_clusters, …)
# keep their output, and the SimHash / sign-LSH heads kept their bodies.
SEMANTICS_CHANGED: set[str] = {
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_sql",
    "dedup_clusters_lsh",
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
}

#: Heads whose same-code medians were MEASURED to vary up to 1.4×
#: across interleaved same-box sessions and up to 2.4× between the
#: driver box and the builder box (SCALE.md "Round 13" A/B table; the
#: iterative pagerank family carries the same r11 evidence).  The
#: continuity check should treat a round-over-round move on these heads
#: inside 2.4× WITHOUT a code diff as host noise; only a move that
#: reproduces under an interleaved worktree A/B (tools/ab_probe.py) is
#: code-borne.
HOST_SENSITIVE_HEADS = {
    "community_modularity_ann": 2.4,
    "knn_edge_recall": 2.4,
    "knn_edge_recall_multi": 2.4,
    "item_similarity_capped": 2.4,
    "pagerank_delta": 1.5,
    "pagerank_delta_local": 1.5,
    "pagerank_weighted": 1.5,
    "graph_kcore": 1.5,
    # r13 close-out: neardup_pair_recall's bench median moved 2.2× with
    # zero diff, re-measured standalone minutes later (NOTES.md r13
    # close-out records the re-measurement).
    "neardup_pair_recall": 2.2,
    # r13 fourth-batch close-out: bench median 17.3 vs 8.7 prior
    # close-out with zero diff; standalone median-of-5 minutes later
    # 11.7 (samples 7.6-14.9) — same-box 2x spread inside minutes
    "item_similarity": 2.0,
}


class _StageMeter:
    """Per-head task-parallelism meter (VERDICT r13 ask #2): reads the
    JVM AppStatusStore (present with the UI disabled) and attributes
    every stage that FINISHED since the previous read to the current
    head.  avg_concurrency = Σ executorRunTime / wall — 'how many tasks
    ran on average during the head's wall clock'.  ~1.0 means the head
    cannot demonstrate parallel speedup at this SF (fixed overhead /
    1-task stages dominate); »1 means a core-count cut must hurt it.
    Pure measurement: nothing about the timed region changes.

    Bound: the store keeps at most ``spark.ui.retainedStages`` (default
    1000) finished stages and evicts the oldest past that, so a stage
    that finishes AND is evicted between two drains is never counted —
    a head running more stages than that between drains reads low."""

    #: terminal ``StageStatus`` values: an ACTIVE or PENDING stage is
    #: left for a later drain, once its run time is final
    _FINISHED = frozenset({"COMPLETE", "FAILED", "SKIPPED"})

    def __init__(self, spark):
        sc = spark.sparkContext
        # (stageId, attemptId) of every finished stage already counted
        # and still listed by the store
        self._counted: set[tuple[int, int]] = set()
        try:
            self._store = sc._jsc.sc().statusStore()
            self._empty = sc._jvm.java.util.ArrayList()
            self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        except Py4JError as exc:  # private JVM API: absent or changed
            print(f"parallelism meter unavailable: {exc!r}", file=sys.stderr)
            self._store = None

    def drain_run_ms(self) -> int | None:
        """Sum executorRunTime of the finished stage attempts not counted
        by an earlier drain.  A stage still running at a drain is
        counted once, at the first drain after it finishes; keying on
        the attempt (not on the highest id seen) is what keeps a
        long-running low-id stage from being skipped.  Ids the store
        no longer lists are forgotten, so the set stays within the
        retention bound.  None when the status store cannot be read
        (the store is private JVM API, read through py4j): the head's
        column is recorded as null and the bench goes on."""
        if self._store is None:
            return None
        try:
            seq = self._store.stageList(
                self._empty, False, False, self._quantiles, self._empty
            )
            run_ms, listed, finished = 0, set(), set()
            for i in range(seq.size()):
                sd = seq.apply(i)
                key = (sd.stageId(), sd.attemptId())
                listed.add(key)
                if key in self._counted or str(sd.status()) not in self._FINISHED:
                    continue
                run_ms += sd.executorRunTime()
                finished.add(key)
        except Py4JError as exc:
            print(f"parallelism meter read failed: {exc!r}", file=sys.stderr)
            return None
        self._counted = (self._counted & listed) | finished
        return run_ms


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session("bench")
    # Quiet the bench log tail (VERDICT r9 ask #7): the deliberate
    # del+GC between queries races the ContextCleaner against late AQE
    # accumulator reads, which logs a scary-but-benign
    # "SparkException: attempted to access non-existent accumulator"
    # stack trace at ERROR level (rc stays 0, every result parses).
    # FATAL suppresses it; real failures still raise in Python.
    spark.sparkContext.setLogLevel("FATAL")
    # warmup: JVM + codegen + parquet footer caches
    REGISTRY["dedup_exact"].fn(spark, SF_DIR).count()
    # warmup: Python/Arrow worker pool (pandas-UDF queries measure
    # steady-state kernels, not interpreter fork cost)
    (
        spark.range(0, 256, 1, 32)
        .withColumn("g", F.col("id") % 32)
        .groupBy("g")
        .applyInPandas(lambda pdf: pdf, "id bigint, g bigint")
        .count()
    )

    # N runs per query (default 3): the shared host shows 2-3× run-to-run
    # variance on an otherwise idle VM (same query 0.8-2.5 s across
    # minutes).  The PRIMARY per-query number is the MEDIAN of the runs
    # (VERDICT r5 ask #8: robust to a single slow outlier, so
    # single-digit plan optimizations are measurable round-over-round);
    # the min is reported alongside as the steady-state floor and for
    # continuity with rounds ≤5, whose primary metric was best-of-N.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    # per-head avg task concurrency (executorRunTime / wall across the
    # head's runs) — the driver-readable parallel-fraction column
    # (VERDICT r13 ask #2: 8-core ≈ 32-core at sf0.1 needed a measured
    # explanation; this column shows directly how much task-parallel
    # work each head exposes).  ADDITIVE: timed region unchanged.
    # (null per head when the status store can't be read, and null as a
    # whole when it never could — a py4j failure never aborts the bench)
    meter = _StageMeter(spark)
    parallelism: dict[str, float | None] | None = {}
    # cold/warm annotation (VERDICT r12 ask #5): ann_graph_incremental_multi
    # pays a one-time stored-state build (~38 s at sf0.1) on a fresh host;
    # stamping whether THIS bench run started warm keeps a future reader
    # from misreading the cold run inside the median/min.
    from icebergproject_spark.queries_r10 import ann_multi_store_is_warm

    ann_multi_warm_at_start = ann_multi_store_is_warm(SF_DIR)
    import gc

    for name in BENCH_QUERIES:
        samples = []
        meter.drain_run_ms()  # attribute warmup/prior stages elsewhere
        for _ in range(max(runs, 1)):
            t0 = time.time()
            df = REGISTRY[name].fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            del df
        run_ms = meter.drain_run_ms()
        parallelism[name] = (
            None
            if run_ms is None
            else round(run_ms / 1000.0 / max(sum(samples), 1e-9), 2)
        )
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        timings_min[name] = round(samples[0], 3)
        # release lazy-localCheckpoint blocks between queries: the
        # ContextCleaner only unpersists them once the Python DataFrame
        # refs are collected, and ~95 queries × 3 runs of graph/rank
        # heads otherwise accumulate blocks until the driver heap OOMs
        # (observed at the 94-query mark on an 8g driver)
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # FULL-COVERAGE sweep (VERDICT r9 ask #5): every registry head NOT in
    # the headline list is timed so every head has a bench number — no
    # silent coverage gap.  These are the reference-parity micro heads,
    # the relational/TPC-H-analog batch, and twin arms whose sibling is
    # already in the headline set; the headline metric and
    # round-over-round continuity stay on BENCH_QUERIES alone.
    # r10 ADVICE + VERDICT r10 ask #7: (a) the exclusion set is hoisted
    # out of the generator, (b) each head runs under try/except so one
    # failure is recorded instead of aborting the collected headline
    # timings, (c) the sweep is median-of-N too (default 3, tunable via
    # SPARK_GRAFT_SWEEP_RUNS) so a mover in a non-headline head is
    # distinguishable from single-run noise.
    sweep_runs = int(os.environ.get("SPARK_GRAFT_SWEEP_RUNS", str(runs)))
    headline_set = set(BENCH_QUERIES)
    sweep: dict[str, float] = {}
    sweep_errors: dict[str, str] = {}
    for i, name in enumerate(n for n in REGISTRY if n not in headline_set):
        try:
            samples = []
            for _ in range(max(sweep_runs, 1)):
                t0 = time.time()
                df = REGISTRY[name].fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.time() - t0)
                del df
            samples.sort()
            sweep[name] = round(samples[len(samples) // 2], 3)
        except Exception as exc:  # record, don't abort the bench
            sweep_errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        gc.collect()
        if i % 8 == 7:  # same block-release hygiene, amortized
            spark.sparkContext._jvm.System.gc()

    if all(v is None for v in parallelism.values()):
        parallelism = None
    total = round(sum(timings.values()), 3)
    comparable = {
        n: t
        for n, t in timings.items()
        if n in PREV_ROUND_QUERIES and n not in SEMANTICS_CHANGED
    }
    new = {n: t for n, t in timings.items() if n not in PREV_ROUND_QUERIES}
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Per-query detail goes to a COMMITTED FILE, not stdout: the driver
    # captures only the tail of long stdout lines, so BENCH_r06/r07 both
    # landed with "parsed": null (VERDICT r7 ask #1).  The FINAL stdout
    # line below is a compact (<1 KB) JSON of totals + continuity only.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "timing": f"median_of_{max(runs, 1)}",
        "queries": timings,
        "queries_min": timings_min,
        "value_min_sec": round(sum(timings_min.values()), 3),
        "sf": sf_val,
        "comparable_to_prev": {
            "total_sec": round(sum(comparable.values()), 3),
            "n": len(comparable),
        },
        "new_queries": {
            "total_sec": round(sum(new.values()), 3),
            "n": len(new),
            "names": sorted(new),
        },
        "semantics_changed": sorted(SEMANTICS_CHANGED & set(timings)),
        "parallelism_avg_concurrency": parallelism,
        "ann_multi_store_warm_at_start": ann_multi_warm_at_start,
        "host_sensitive_heads": HOST_SENSITIVE_HEADS,
        "sweep_timing": f"median_of_{max(sweep_runs, 1)}",
        "sweep_queries": sweep,
        "sweep_total_sec": round(sum(sweep.values()), 3),
        "sweep_errors": sweep_errors,
        "known_benign_stderr": (
            "any 'attempted to access non-existent accumulator' trace is "
            "the del+GC/ContextCleaner race described in bench.py main(); "
            "it is suppressed at FATAL log level since r10 and never "
            "affects results"
        ),
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")

    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "timing": f"median_of_{max(runs, 1)}",
                "n_queries": len(timings),
                # full per-query medians inline: the driver contract reads
                # {"queries": {name: sec}} off this ONE stdout line (the
                # detail file is a repo artifact, not the driver surface)
                "queries": timings,
                # per-head avg task concurrency (executorRunTime/wall):
                # the parallel-fraction column of VERDICT r13 ask #2 —
                # ≈1 marks a head whose sf0.1 runtime is fixed-overhead
                # bound (core-count insensitive by measurement)
                "parallelism_avg_concurrency": parallelism,
                "value_min_sec": round(sum(timings_min.values()), 3),
                "sf": sf_val,
                "comparable_to_prev": detail["comparable_to_prev"],
                "new_queries": {
                    "total_sec": detail["new_queries"]["total_sec"],
                    "n": len(new),
                },
                "slowest5": slowest,
                "sweep": {
                    "n": len(sweep),
                    "total_sec": round(sum(sweep.values()), 3),
                    "timing": f"median_of_{max(sweep_runs, 1)}",
                    "n_errors": len(sweep_errors),
                },
                "queries_detail_file": os.path.basename(detail_path),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
