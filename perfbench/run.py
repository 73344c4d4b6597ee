"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one seeded workload against the package's public functions from the
root of a checkout, checks every output, and prints one JSON object as
the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer metrics. The exact counters of the
run are printed on the line before it (``{"counters": ...}``). Exits 1
when an output check fails, and with an error before printing anything
when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics as M  # noqa: E402
from perfbench.common import MemorySampler, median, prepare_env, start_session, stop_spark  # noqa: E402
from perfbench.trace import Tracer, find_event_log, layer_counters, parse_event_log  # noqa: E402

GEN_REPEATS = 3


def workload_class(name: str):
    if name == "medallion_stream":
        from perfbench.medallion import Medallion

        return Medallion
    if name == "corpus_dedup":
        from perfbench.corpus import Corpus

        return Corpus
    raise SystemExit(f"unknown workload {name!r}")


def run(args, work: str) -> tuple[dict, bool]:
    import icebergproject_spark  # noqa: F401 - fail fast outside a checkout

    cls = workload_class(args.workload)
    prepare_env(work)
    traced = bool(args.trace)
    setup: dict[str, float] = {}
    with MemorySampler() as mem:
        t0 = time.perf_counter()
        spark = start_session(work, traced)
        setup["session.start_ms"] = (time.perf_counter() - t0) * 1000
        tracer = Tracer(spark.sparkContext if traced else None)
        w = cls(spark, work, args.seed, args.seconds, tracer)
        # generation is repeated and its median kept (set-up must be
        # measured several times per run); the last copy is used
        gen_ms = []
        for i in range(GEN_REPEATS):
            root = os.path.join(work, f"input-{i}")
            t0 = time.perf_counter()
            w.generate(root)
            gen_ms.append((time.perf_counter() - t0) * 1000)
            if i + 1 < GEN_REPEATS:
                shutil.rmtree(root)
        setup["gen_ms"] = median(gen_ms)
        t0 = time.perf_counter()
        w.stage()
        setup["stage_ms"] = (time.perf_counter() - t0) * 1000
        w.run(args.seconds)
    t0 = time.perf_counter()
    fails = w.check()
    w.finish_counters()
    check_ms = (time.perf_counter() - t0) * 1000
    stop_spark()  # before the event log is read: stopping flushes it
    for f in fails:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    span_ms: dict[str, float] = {}
    for s in tracer.spans:
        span_ms[s.name] = span_ms.get(s.name, 0.0) + s.ms
    print(f"phases_ms {json.dumps({**setup, 'check_ms': check_ms})}\nspans {json.dumps(span_ms)}\n"
          f"latencies_ms {json.dumps([round(x) for x in w.latencies()])}", file=sys.stderr)
    setup_s = (setup["session.start_ms"] + setup["gen_ms"] + setup["stage_ms"]) / 1000.0
    attempted = w.ops_attempted() + w.check_count
    failed = w.ops_failed() + len(fails)
    if traced:
        spans = tracer.spans
        by_span = parse_event_log(find_event_log(os.path.join(work, "events")))
        tracer.write(os.path.join(work, "spans.jsonl"))
        layers = layer_counters(spans, by_span)
        metrics = M.per_layer(w, layers, setup, mem.peak_kb / 1024.0)
    else:
        metrics = M.end_to_end(w, setup_s)
    print(json.dumps({"counters": M.exact_counters(w)}, sort_keys=True))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, failed == 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # one fixed directory per workload: paths end up inside lakehouse files
    # (positional deletes name data files), so their length must not vary
    # between runs; runs of one workload in one checkout must not overlap
    work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # a terminated run still ends the JVM and workers it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, ok = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # when no other workload's run is there
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
