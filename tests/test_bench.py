"""bench.py's per-head parallelism meter reads Spark's private status
store through py4j; a failure there must record null, not end the
bench."""

from __future__ import annotations

from types import SimpleNamespace

from py4j.protocol import Py4JError

import bench


def _spark_whose_store(store_fn):
    jsc = SimpleNamespace(sc=lambda: SimpleNamespace(statusStore=store_fn))
    sc = SimpleNamespace(
        _jsc=jsc,
        _jvm=SimpleNamespace(java=SimpleNamespace(
            util=SimpleNamespace(ArrayList=list)
        ), double=float),
        _gateway=SimpleNamespace(new_array=lambda t, n: []),
    )
    return SimpleNamespace(sparkContext=sc)


def test_stage_meter_records_null_on_py4j_failure():
    def missing():
        raise Py4JError("statusStore does not exist in the JVM")

    assert bench._StageMeter(_spark_whose_store(missing)).drain_run_ms() is None

    def broken_list(*_):
        raise Py4JError("Answer from Java side is empty")

    store = SimpleNamespace(stageList=broken_list)
    meter = bench._StageMeter(_spark_whose_store(lambda: store))
    assert meter.drain_run_ms() is None

    stages = [_stage(i, "COMPLETE", 5) for i in range(3)]
    store.stageList = lambda *_: _seq(stages)
    assert meter.drain_run_ms() == 15  # recovers on the next read
    assert meter.drain_run_ms() == 0  # and counts each stage once


def _stage(sid, status, run_ms, attempt=0):
    return SimpleNamespace(
        stageId=lambda: sid, attemptId=lambda: attempt,
        status=lambda: status, executorRunTime=lambda: run_ms,
    )


def _seq(stages):
    return SimpleNamespace(size=lambda: len(stages), apply=stages.__getitem__)


def test_stage_meter_counts_a_stage_once_when_it_finishes():
    """A stage still active at a drain is counted at the first drain
    after it finishes, even when stages with higher ids finished
    first; a retried attempt counts on its own; evicted stages are
    forgotten and never counted again."""
    store = SimpleNamespace()
    meter = bench._StageMeter(_spark_whose_store(lambda: store))
    listed = [_stage(0, "ACTIVE", 7), _stage(1, "COMPLETE", 3),
              _stage(2, "PENDING", 0)]
    store.stageList = lambda *_: _seq(listed)
    assert meter.drain_run_ms() == 3  # only the finished stage 1
    listed[0] = _stage(0, "COMPLETE", 40)
    listed[2] = _stage(2, "FAILED", 2)
    listed.append(_stage(2, "SKIPPED", 1, attempt=1))
    assert meter.drain_run_ms() == 43  # stage 0 at its final run time
    assert meter.drain_run_ms() == 0
    del listed[:2]  # retention evicted stages 0 and 1
    assert meter.drain_run_ms() == 0
    assert meter._counted == {(2, 0), (2, 1)}
