"""``corpus_dedup``: the LLM data tier.

The corpus (documents + embeddings with exact and near duplicates
injected at a fixed share) is written to an sf-dir and read with the
package's table loader. One operation is one pass of the fixed chain over
the whole corpus, starting cold: ``normalize_text`` → ``quality_buckets`` →
``exact_dedup`` → ``minhash_lsh_candidates`` + ``verified_near_dups`` →
``simhash_near_pairs`` → ``cosine_topk`` / ``ivf_topk`` →
``connected_components`` → ``bm25_topk``. Each step consumes the previous
step's output lazily, as a caller of the package would; every pass is
checked against the injected truth.
"""

from __future__ import annotations

import os
import sys
import time

import pyspark.sql.functions as F

from perfbench import gen
from perfbench.common import tree_bytes

SPEC = gen.CorpusSpec(docs=1000)
LSH = {"num_hashes": 64, "bands": 16}  # 4 rows/band: injected pairs (J ≥ 0.85) always collide
TOPK = 3
BM25_QUERIES = 8


class Corpus:
    name = "corpus_dedup"

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.pass_ms: list[float] = []
        self.retrieval_ms: list[float] = []  # top-k and BM25 queries, per pass
        self.pass_ok: list[bool] = []
        self.counters: dict[str, float] = {}
        self.check_count = 0

    # -- set-up ---------------------------------------------------------
    def generate(self, root: str) -> None:
        self.sf_dir = os.path.join(root, "sf")
        self.truth = gen.write_corpus(self.sf_dir, self.seed, SPEC)
        rng = gen.rng_for(self.seed, "bm25")
        self.bm25_queries = [
            (q, " ".join(gen.WORDS[i] for i in rng.integers(0, len(gen.WORDS), 3)))
            for q in range(BM25_QUERIES)
        ]

    def stage(self) -> None:
        """Nothing to stage, and no warm-up: the chain is a batch job, run
        once per session in use, so the first pass, with the start of the
        Python workers and the first compilation of every plan, is the one
        measured. (A warm-up pass would cost more than a measured one: most
        of a pass is fixed cost.)"""
        self.first_bm25 = None

    # -- one pass -------------------------------------------------------------
    def _pass(self) -> dict:
        from icebergproject_spark.llm.dedup import (
            connected_components, exact_dedup, minhash_lsh_candidates,
            simhash_near_pairs, verified_near_dups,
        )
        from icebergproject_spark.llm.similarity import cosine_topk, ivf_topk
        from icebergproject_spark.llm.text import bm25_topk, normalize_text, quality_buckets
        from icebergproject_spark.tables import load_table

        spark, span = self.spark, self.tracer.span
        docs = load_table(spark, "documents", self.sf_dir)
        emb = load_table(spark, "embeddings", self.sf_dir)
        out: dict = {}
        norm = normalize_text(docs).select("doc_id", F.col("norm_text").alias("text"))
        with span("llm.quality_buckets"):
            qb = quality_buckets(norm)
            out["buckets"] = {r[0]: r[1] for r in qb.groupBy("bucket").count().collect()}
        with span("llm.exact_dedup"):
            dedup = exact_dedup(norm).select("doc_id", "text", "dup_cnt")
            r = dedup.agg(F.count(F.lit(1)), F.sum(F.col("dup_cnt") - 1)).first()
            out["kept"], out["exact_removed"] = r[0], r[1]
        kept = dedup.select("doc_id", "text")
        with span("llm.near_dups"):
            out["candidates"] = minhash_lsh_candidates(kept, **LSH).count()
            verified = verified_near_dups(kept, **LSH)
            out["verified"] = {(r["id_a"], r["id_b"]) for r in verified.collect()}
        with span("llm.simhash_near_pairs"):
            out["simhash_pairs"] = simhash_near_pairs(kept).count()
        near_ids = sorted(b for _, b in self.truth.near_pairs)
        queries = emb.filter(F.col("vec_id").isin(near_ids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        t0 = time.perf_counter()
        with span("llm.topk"):
            out["cosine_top1"] = {
                r["query_id"]: r["neighbor_id"]
                for r in cosine_topk(emb, queries, k=TOPK).filter("rank = 1").collect()
            }
            out["ivf_top1"] = {
                r["query_id"]: r["neighbor_id"]
                for r in ivf_topk(emb, queries, k=TOPK).filter("rank = 1").collect()
            }
        retrieval = time.perf_counter() - t0
        with span("llm.connected_components"):
            edges = spark.createDataFrame(
                sorted(out["verified"]) or [(0, 0)], "id_a long, id_b long"
            )
            out["clusters"] = {
                r["node"]: r["cluster_id"] for r in connected_components(edges).collect()
            }
        t0 = time.perf_counter()
        with span("llm.bm25_topk"):
            out["bm25"] = sorted(
                tuple(r) for r in bm25_topk(kept, self.bm25_queries, k=TOPK).collect()
            )
        self.retrieval_ms.append((retrieval + time.perf_counter() - t0) * 1000.0)
        return out

    def _check(self, out: dict) -> list[str]:
        t = self.truth
        fails = []
        if out["kept"] != t.docs - len(t.exact_pairs) or out["exact_removed"] != len(t.exact_pairs):
            fails.append("exact_dedup did not remove exactly the injected copies")
        missed = t.near_pairs - out["verified"]
        if missed:
            fails.append(f"verified_near_dups missed {len(missed)} injected pairs")
        texts = self._texts()
        false_pos = [
            p for p in out["verified"] - t.near_pairs
            if gen.jaccard(texts[p[0]], texts[p[1]]) < 0.3
        ]
        if false_pos:
            fails.append(f"{len(false_pos)} verified pairs below the Jaccard threshold")
        want_top1 = {b: a for a, b in t.near_pairs}
        if out["cosine_top1"] != want_top1:
            fails.append("cosine_topk top-1 is not the injected source")
        if out["ivf_top1"] != want_top1:
            fails.append("ivf_topk top-1 is not the injected source")
        cl = out["clusters"]
        if any(cl.get(a) is None or cl.get(a) != cl.get(b) for a, b in t.near_pairs):
            fails.append("connected_components split an injected pair")
        if self.first_bm25 is None:
            self.first_bm25 = out["bm25"]
        elif out["bm25"] != self.first_bm25:
            fails.append("bm25_topk differs between passes")
        return fails

    def _texts(self) -> dict[int, str]:
        if not hasattr(self, "_text_cache"):
            import pyarrow.parquet as pq

            tbl = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
            self._text_cache = dict(
                zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
            )
        return self._text_cache

    # -- measured run -------------------------------------------------------
    def run(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() < t_end:
            s = time.perf_counter()
            with self.tracer.span("corpus.pass", req=f"pass-{i}"):
                out = self._pass()
            self.pass_ms.append((time.perf_counter() - s) * 1000.0)
            fails = self._check(out)
            for f in fails:
                print(f"pass {i}: {f}", file=sys.stderr)
            self.pass_ok.append(not fails)
            if i == 0:
                self.first = out
            i += 1
        self.elapsed_s = time.perf_counter() - t0

    def check(self) -> list[str]:
        return []  # every pass is checked as it runs; see ops_failed

    def finish_counters(self) -> None:
        o = self.first
        self.counters.update(
            {
                "docs": SPEC.docs,
                "injected_exact": len(self.truth.exact_pairs),
                "injected_near": len(self.truth.near_pairs),
                "llm.exact_removed": o["exact_removed"],
                "llm.candidate_pairs": o["candidates"],
                "llm.verified_pairs": len(o["verified"]),
                "llm.simhash_pairs": o["simhash_pairs"],
                "llm.clusters": len(set(o["clusters"].values())),
                "corpus.bytes_on_disk": tree_bytes(self.sf_dir),
            }
        )

    def layer_metrics(self, layers: dict) -> dict:
        from perfbench.metrics import LLM_FIELDS, LLM_STEPS, per_call

        n = len(self.pass_ms)
        v = {
            f"llm.{step}.{f}": per_call(layers, f"llm.{step}", "self_ms" if f == "ms" else f, n)
            for step in LLM_STEPS for f in LLM_FIELDS
        }
        v["llm.python_bytes"] = per_call(layers, "corpus.pass", "python_bytes", n)
        v["llm.candidate_precision"] = len(self.first["verified"]) / self.first["candidates"]
        return v

    def units(self) -> int:
        return SPEC.docs * len(self.pass_ms)

    def latencies(self) -> list[float]:
        return self.pass_ms

    def read_latencies(self) -> list[float]:
        return self.retrieval_ms

    def ops_attempted(self) -> int:
        return len(self.pass_ms)

    def ops_failed(self) -> int:
        return sum(1 for ok in self.pass_ok if not ok)

    def disk_bytes(self) -> int:
        return self.counters["corpus.bytes_on_disk"]

    def input_bytes(self) -> int:
        return self.truth.text_bytes

    def exact_counters(self) -> dict:
        return dict(self.counters)
