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

    stages = [SimpleNamespace(stageId=lambda i=i: i, executorRunTime=lambda: 5)
              for i in range(3)]
    seq = SimpleNamespace(size=lambda: len(stages), apply=stages.__getitem__)
    store.stageList = lambda *_: seq
    assert meter.drain_run_ms() == 15  # recovers on the next read
    assert meter.drain_run_ms() == 0  # and counts each stage once
