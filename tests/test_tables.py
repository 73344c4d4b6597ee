"""Fixture loads (tables.load_table): the schema Spark infers for a file
version is inferred once per process and passed on later loads."""

from __future__ import annotations

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from icebergproject_spark.session import count_jobs
from icebergproject_spark.tables import load_table


def _write(path, table: pa.Table) -> None:
    pq.write_table(table, str(path))


def test_replaced_file_returns_its_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write(path, pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}))
    assert load_table(spark, "region", str(tmp_path)).columns == ["r_regionkey", "r_name"]
    _, jobs = count_jobs(spark, lambda: load_table(spark, "region", str(tmp_path)))
    assert jobs == 0
    # a new version: other columns, other size (and mtime)
    os.remove(path)
    _write(path, pa.table({"r_regionkey": [7], "r_comment": ["c"], "r_extra": [1.5]}))
    df = load_table(spark, "region", str(tmp_path))
    assert df.columns == ["r_regionkey", "r_comment", "r_extra"]
    assert [tuple(r) for r in df.collect()] == [(7, "c", 1.5)]


def test_nanos_as_long_toggle_gives_the_type_spark_infers(spark, tmp_path):
    """``events.ts`` written as TIMESTAMP(NANOS) reads as a long only
    under ``nanosAsLong``; without it Spark refuses the type.  The
    reused schema is keyed on the conf, so each value gets what Spark
    infers under it, and ``normalize_events`` still sees the long."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    _write(tmp_path / "events.parquet", pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, 0], pa.timestamp("ns")),
    }))
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")

        def load():
            return sorted(
                (r.event_id, r.ts.isoformat())
                for r in load_table(spark, "events", str(tmp_path)).collect()
            )

        expected = [(1, "2023-11-14T22:13:20.123456"), (2, "1970-01-01T00:00:00")]
        assert load() == expected
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, "events", str(tmp_path))
        spark.conf.set(conf, "true")
        _, jobs = count_jobs(spark, lambda: load_table(spark, "events", str(tmp_path)))
        assert jobs == 0
        assert load() == expected
    finally:
        spark.conf.set(conf, saved)


def test_concurrent_first_loads(spark, tmp_path):
    """Threads loading the same and different files for the first time
    at once all get the right schema and rows; afterwards every file
    loads without a job."""
    names = ["region", "nation", "part"]
    for i, name in enumerate(names):
        _write(tmp_path / f"{name}.parquet",
               pa.table({f"{name}_key": list(range(i + 1)), "v": ["x"] * (i + 1)}))
    results: dict[tuple[int, str], tuple] = {}

    def worker(k: int) -> None:
        for name in names[k % 3:] + names[:k % 3]:
            df = load_table(spark, name, str(tmp_path))
            results[(k, name)] = (tuple(df.columns), df.count())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=240)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(results) == 6 * len(names)
    for (_, name), got in results.items():
        assert got == ((f"{name}_key", "v"), names.index(name) + 1)
    for name in names:
        _, jobs = count_jobs(spark, lambda: load_table(spark, name, str(tmp_path)))
        assert jobs == 0
