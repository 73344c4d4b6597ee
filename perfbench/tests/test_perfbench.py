"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first group is pure Python and fast. The last group starts Spark:
it runs every workload briefly through ``perfbench/run.py`` (about a
minute per run on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.common import tail  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Span, layer_counters, parse_event_log, self_times  # noqa: E402

WORKLOADS = ["medallion_stream", "corpus_dedup"]


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate_all(root: str, seed: int) -> None:
    spec = gen.MedallionSpec(batches=3, envelopes_per_batch=200, staged_batches=2)
    inp = gen.write_medallion(os.path.join(root, "stream"), seed, spec)
    for p in inp.log_files:  # mtimes are part of the contract (batch order)
        assert os.path.getmtime(p) == 1_600_000_100 + inp.log_files.index(p)
    gen.write_star(os.path.join(root, "star"), seed, gen.StarSpec(customers=50, orders=200, parts=40, suppliers=5, events=100))
    gen.write_corpus(os.path.join(root, "corpus"), seed, gen.CorpusSpec(docs=200))


# -- generator ---------------------------------------------------------------


def test_generator_is_byte_identical_per_seed(tmp_path):
    _generate_all(str(tmp_path / "a"), 7)
    _generate_all(str(tmp_path / "b"), 7)
    _generate_all(str(tmp_path / "c"), 8)
    a = _tree_digest(str(tmp_path / "a"))
    assert a == _tree_digest(str(tmp_path / "b"))
    c = _tree_digest(str(tmp_path / "c"))
    assert a.keys() == c.keys() and a != c


def test_generator_traffic_dimensions(tmp_path):
    spec = gen.MedallionSpec(batches=2, envelopes_per_batch=2000, staged_batches=3)
    inp = gen.write_medallion(str(tmp_path), 3, spec)
    assert len(inp.staged_cdc_files) == 3 and len(inp.cdc_files) == 2
    envs = [json.loads(line) for line in open(inp.log_files[0])]
    assert len(envs) == 2000
    other = sum(e["logtype"] != "browselog" for e in envs) / 2000
    assert 0.01 < other < 0.06  # other_logtype_share = 0.03
    cdc = [json.loads(line) for line in open(inp.cdc_files[0])]
    keys = [e["data"]["product_id"] for e in cdc]
    assert len(keys) == len(set(keys))  # distinct keys within a batch
    assert sum(e["type"] == "delete" for e in cdc) == spec.dim_deletes_per_batch
    truth = gen.expected_dim(inp, 2)["pc_product"]
    assert len(truth) == spec.products
    # updates rename products and move them to other categories, so the
    # DWS/DM check sees which dim state each batch joined
    boot = gen.replay_dim([inp.bootstrap_path])["pc_product"]
    updated = [e["data"] for e in cdc if e["type"] == "update"]
    assert all(d["product_name"] != boot[d["product_id"]]["product_name"] for d in updated)
    assert sum(d["category_id"] != boot[d["product_id"]]["category_id"] for d in updated) > len(updated) / 2


def test_corpus_injected_pairs_are_near_duplicates(tmp_path):
    truth = gen.write_corpus(str(tmp_path), 5, gen.CorpusSpec(docs=400))
    import pyarrow.parquet as pq

    t = pq.read_table(str(tmp_path / "documents.parquet")).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    assert len(truth.near_pairs) == 20 and len(truth.exact_pairs) == 8
    assert all(gen.jaccard(text[a], text[b]) >= 0.8 for a, b in truth.near_pairs)
    assert all(text[a] == text[b] for a, b in truth.exact_pairs)


# -- spans, self time, event log ------------------------------------------


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        Span(1, "batch", 0.0, 10.0, None, "r"),
        Span(2, "dim", 1.0, 4.0, 1, "r"),
        Span(3, "fold", 2.0, 3.0, 2, "r"),
        Span(4, "dws", 3.5, 6.0, 1, "r"),  # overlaps dim by 0.5
        Span(5, "late", 9.0, 12.0, 1, "r"),  # clipped at the parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx((10 - (6 - 1) - (10 - 9)) * 1000)
    assert st[2] == pytest.approx(2000)
    assert st[3] == pytest.approx(1000)
    assert st[4] == pytest.approx(2500)


def test_event_log_is_attributed_to_spans_inclusively(tmp_path):
    log = tmp_path / "app"
    acc = lambda name, v: {"Name": name, "Value": v}  # noqa: E731
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "RDD Info": [{"Scope": "{\"name\":\"Scan text \"}"}],
            "Accumulables": [acc("internal.metrics.executorRunTime", 100),
                             acc("internal.metrics.input.recordsRead", "50"),
                             acc("internal.metrics.shuffle.write.bytesWritten", 7)]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 1, "RDD Info": [],
            "Accumulables": [acc("internal.metrics.executorRunTime", 5),
                             acc("data sent to Python workers", 9)]}},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    by_span = parse_event_log(str(log))
    assert by_span[2]["stages"] == 1 and by_span[2]["tasks"] == 4  # stage 1 skipped
    assert by_span[2]["text_records_read"] == 50 and by_span[2]["shuffle_bytes"] == 7
    spans = [Span(1, "batch", 0.0, 2.0, None, None), Span(2, "ods", 0.5, 1.0, 1, None)]
    layers = layer_counters(spans, by_span)
    assert layers["batch"]["run_ms"] == 105 and layers["batch"]["jobs"] == 2
    assert layers["ods"]["run_ms"] == 100 and layers["batch"]["python_bytes"] == 9
    assert layers["batch"]["self_ms"] == pytest.approx(1500)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 41))
    assert tail(xs) == (30, 75.0, 40)
    assert tail([5.0, 1.0]) == (5.0, 100.0, 2)


# -- the contract ----------------------------------------------------------


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    assert spec["paths"] == ["perfbench"]


def _in_session(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(d))
    return out


def _run(cwd: str, workload: str, seed: int, trace: int = 0, seconds: str = "1"):
    """One benchmark run in a session of its own; no process of that
    session (the JVM, Python workers) may outlive it."""
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, _ = p.communicate(timeout=300)
    assert _in_session(p.pid) == []
    return p.returncode, stdout.strip().splitlines()


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, lines = _run(str(tmp_path), "corpus_dedup", 1)
    assert rc != 0 and not any(line.startswith("{") for line in lines)


# -- Spark runs --------------------------------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_and_exact_counters_repeat(workload):
    """Each workload, briefly, twice with one seed: outputs are correct,
    every end-to-end metric is printed with its unit, and the exact
    counters repeat."""
    rc1, out1 = _run(ROOT, workload, 5)
    rc2, out2 = _run(ROOT, workload, 5)
    assert rc1 == 0 and rc2 == 0, out1[-3:] + out2[-3:]
    r = json.loads(out1[-1])
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in r["metrics"].values())
    assert json.loads(out1[-2]) == json.loads(out2[-2])


def test_medallion_folds_at_the_package_threshold():
    from perfbench.medallion import FOLD_AT, fold_threshold, spec_for

    # staged files + the batches up to FOLD_AT reach the threshold; the
    # DIM upsert of batch FOLD_AT passes it
    assert spec_for(5).staged_batches + FOLD_AT == fold_threshold()


def test_traced_run_reports_every_layer_metric():
    rc, out = _run(ROOT, "medallion_stream", 5, trace=1)
    assert rc == 0
    r = json.loads(out[-1])
    assert {k: v["unit"] for k, v in r["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in r["metrics"].items()}
    for layer in ("ods", "dwd", "dim", "dws", "dm"):
        assert m[f"{layer}.ms"] > 0 and m[f"{layer}.stages"] > 0 and m[f"{layer}.rows"] > 0
    assert m["sources.scans_per_batch"] >= 1
    assert m["lakehouse.fold_ms"] > 0 and m["dim.rows_rewritten_per_row"] > 2
    counters = json.loads(out[-2])["counters"]
    assert counters["batch0.folds"] == 1 and counters["batch0.pos_deletes_written"] > 0
