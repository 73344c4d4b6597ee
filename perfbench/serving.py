"""The analyst side of the medallion tables, read after the stream.

``medallion_stream`` writes a bloomed product dim (with its equality-delete
history and the fold) and a day-partitioned DWS table; :class:`Reads` then
reads them the way analysts do, with no writes. The loop is closed, with
one client: it repeats a fixed cycle of twelve operations, in whole cycles
— four point lookups (``read(where="product_id = …")`` on Zipf-skewed
keys), one pruned DWS day-range scan, each of the six registry heads once
(over a TPC-H-shaped star schema) and one time-travel read of an older dim
snapshot. Every cycle holds the same operations, so every run sees the
same mix however many cycles fit in its window. The read latency is the
time of one whole cycle: single operations range from ~0.1 s (travel) to
~0.7 s (lookups, heads), too far apart for their median to be stable.

Every operation is checked as it runs: lookups and time travel against
last-write-wins replayed in Python from the CDC files, day scans against
per-day counts and points summed from the envelope files, registry heads
against their content hash from one run at set-up.
"""

from __future__ import annotations

import datetime as dt
import json
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F

from perfbench import gen
from perfbench.common import content_hash
from perfbench.metrics import HEADS

CYCLE = [
    "lookup", "head", "scan", "head", "lookup", "head",
    "travel", "head", "lookup", "head", "lookup", "head",
]
PRODUCT_COLS = ["product_id", "category_id", "product_name", "gmt_create"]


def _day(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime("%Y-%m-%d")


def lookup_keys(seed: int, spec: gen.MedallionSpec, n: int = 4096) -> list[str]:
    """Zipf-skewed product keys (hot keys differ per seed)."""
    rng = gen.rng_for(seed, "serve")
    p = gen.zipf_probs(spec.products, spec.zipf_s)
    perm = rng.permutation(spec.products)
    return [gen.product_id(int(perm[k])) for k in rng.choice(spec.products, n, p=p)]


def dim_rows(state: dict) -> dict[str, tuple]:
    """Product-dim truth (``gen.replay_dim`` output) as key → row."""
    return {k: tuple(d.get(c) for c in PRODUCT_COLS) for k, d in state["pc_product"].items()}


class Reads:
    def __init__(self, spark, catalog, sf_dir: str, keys: list[str], tracer):
        self.spark, self.catalog, self.sf_dir, self.keys = spark, catalog, sf_dir, keys
        self.tracer = tracer
        self.op_log: list[tuple[str, float, bool]] = []  # (kind, ms, ok)
        self.cycle_ms: list[float] = []
        self.lookup_files: list[int] = []
        self.head_rows: dict[str, int] = {}

    def answer_heads(self) -> None:
        """Each registry head's answer, three at a time (set-up; this also
        warms them up)."""
        from icebergproject_spark.queries import REGISTRY

        with ThreadPoolExecutor(3) as pool:
            hashes = pool.map(lambda h: content_hash(REGISTRY[h].fn(self.spark, self.sf_dir)), HEADS)
            self.head_hash = dict(zip(HEADS, hashes))

    def expect(self, dim_now: dict, travel: list[tuple[int, dict]], log_files: list[str]) -> None:
        """The answers of lookups (``dim_now``), time travel (snapshot id →
        dim rows) and day scans (summed from ``log_files``)."""
        self.dim_now, self.travel = dim_now, travel
        per_day: dict[str, list[int]] = {}
        for path in log_files:
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    d = e["data"]
                    if e["logtype"] != "browselog" or "browseProductCode" not in d:
                        continue
                    agg = per_day.setdefault(_day(int(d["logTime"])), [0, 0])
                    agg[0] += 1
                    agg[1] += int(d["obtainPoints"])
        self.days = sorted(per_day)
        self.per_day = per_day

    # -- operations ---------------------------------------------------------
    def _op_lookup(self, i) -> bool:
        key = self.keys[i % len(self.keys)]
        with self.tracer.span("lakehouse.lookup"):
            df = self.catalog.table("DIM_PRODUCT_INFO").read(where=f"product_id = '{key}'")
            if self.tracer.traced:
                self.lookup_files.append(len(df.inputFiles()))
            rows = df.collect()
        return [tuple(r[c] for c in PRODUCT_COLS) for r in rows] == [self.dim_now[key]]

    def _op_scan(self, i) -> bool:
        lo = i % max(len(self.days) - 1, 1)
        days = self.days[lo : lo + 2]
        with self.tracer.span("lakehouse.scan"):
            got = (
                self.catalog.table("DWS_BROWSE_INFO").read(partition_values=days)
                .groupBy("log_time")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("obtain_points").cast("long")).alias("p"))
                .collect()
            )
        return {r["log_time"]: [r["n"], r["p"]] for r in got} == {
            d: self.per_day[d] for d in days
        }

    def _op_head(self, i) -> bool:
        from icebergproject_spark.queries import REGISTRY

        h = HEADS[i % len(HEADS)]
        with self.tracer.span(f"queries.{h}"):
            got = content_hash(REGISTRY[h].fn(self.spark, self.sf_dir))
        self.head_rows[h] = got[0]
        return got == self.head_hash[h]

    def _op_travel(self, i) -> bool:
        snapshot_id, want = self.travel[i % len(self.travel)]
        with self.tracer.span("lakehouse.travel"):
            rows = self.catalog.table("DIM_PRODUCT_INFO").read(snapshot_id=snapshot_id).collect()
        got = {r["product_id"]: tuple(r[c] for c in PRODUCT_COLS) for r in rows}
        return len(rows) == len(got) and got == want

    # -- measured loop ------------------------------------------------------
    def run(self, seconds: float) -> None:
        """Whole cycles, at least one, until ``seconds`` have passed."""
        counts = dict.fromkeys(CYCLE, 0)
        t_end = time.perf_counter() + seconds
        i = 0
        while i % len(CYCLE) or time.perf_counter() < t_end:
            kind = CYCLE[i % len(CYCLE)]
            s = time.perf_counter()
            if i % len(CYCLE) == 0:
                cycle_start = s
            with self.tracer.span("serve", req=f"op-{i}"):
                try:
                    ok = getattr(self, f"_op_{kind}")(counts[kind])
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    print(f"op {i} ({kind}) raised {e!r}", file=sys.stderr)
                    ok = False
            self.op_log.append((kind, (time.perf_counter() - s) * 1000.0, ok))
            counts[kind] += 1
            i += 1
            if i % len(CYCLE) == 0:
                self.cycle_ms.append((time.perf_counter() - cycle_start) * 1000.0)

    def op_ms(self, kind: str) -> list[float]:
        return [ms for k, ms, _ in self.op_log if k == kind]

    def failed(self) -> int:
        return sum(1 for _, _, ok in self.op_log if not ok)

    def layer_metrics(self, layers: dict) -> dict:
        from perfbench.common import median, tail
        from perfbench.metrics import per_call

        lookups = self.op_ms("lookup")
        scans = self.op_ms("scan") + self.op_ms("head")
        v = {
            "lakehouse.lookup_p50_ms": median(lookups),
            "lakehouse.scan_p50_ms": median(scans),
            "lakehouse.lookup_files_read": sum(self.lookup_files) / len(self.lookup_files),
            "lakehouse.rows_examined_per_result": per_call(layers, "lakehouse.lookup", "records_read"),
            "lakehouse.travel_ms": per_call(layers, "lakehouse.travel", "ms"),
        }
        v["lakehouse.lookup_tail_ms"], _, v["lakehouse.lookup_samples"] = tail(lookups)
        v["lakehouse.scan_tail_ms"] = tail(scans)[0]
        for h in HEADS:
            v[f"queries.{h}.ms"] = per_call(layers, f"queries.{h}", "self_ms")
            for f in ("stages", "shuffle_bytes"):
                v[f"queries.{h}.{f}"] = per_call(layers, f"queries.{h}", f)
            v[f"queries.{h}.rows_out"] = self.head_rows.get(h, 0)
        return v

    def exact_counters(self) -> dict:
        return {f"queries.{h}.rows_out": hh[0] for h, hh in self.head_hash.items()}
