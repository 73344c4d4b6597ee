"""Equality-delete read-debt probe (VERDICT r12 ask #6).

Each `upsert_by_key` adds ONE equality-delete file, and every
subsequent read applies the accumulated files.  This probe measures
that curve on the bucketed CC assignment layout — read latency at
1/4/16/64 accumulated upserts (full read and partition-pruned read),
the one-time fold cost (`convert_equality_deletes`, then `compact`),
and the post-fold read — so the auto-fold threshold
(`maybe_fold_eq_debt`) is a measured knee, not a guess.  Beside each
latency it prints the number of Spark jobs the operation ran (`*_jobs`,
counted per job group through the status tracker), a counter that does
not depend on the host's speed; beside each read's `*_jobs` it prints
`*_plan_jobs`, the jobs run while building the read DataFrame, before
any action.  No scan infers its schema any more, so those are only
file listings: Spark lists in a job the paths of a scan that has more
than 32 of them (`spark.sql.sources.parallelPartitionDiscovery.threshold`),
such as a mod64-partitioned data dir or more than 32 key dirs.

Usage: python tools/eq_debt_probe.py [--rows 256000] [--buckets 64]
       [--payload 1000] [--runs 3]
Prints one JSON line per debt checkpoint plus a summary table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from icebergproject_spark.session import build_session, count_jobs  # noqa: E402


def _arg(name: str, default: int) -> int:
    argv = sys.argv[1:]
    return int(argv[argv.index(name) + 1]) if name in argv else default


def _timed(spark, fn) -> tuple[float, int]:
    """(wall seconds, Spark jobs) of one ``fn()``; the seconds leave out
    the wait for the job count to settle."""
    secs = []

    def run():
        t0 = time.time()
        fn()
        secs.append(round(time.time() - t0, 3))

    _, jobs = count_jobs(spark, run)
    return secs[0], jobs


def _median_read(
    spark, tbl, runs: int, partition_values=None
) -> tuple[float, int, int]:
    """(median wall seconds, Spark jobs of one run, jobs of building
    its DataFrame) of a full noop-sink read; the job counts are the
    same on every run."""
    samples = []
    for _ in range(runs):
        samples.append(_timed(spark, lambda: tbl.read(
            partition_values=partition_values
        ).write.format("noop").mode("overwrite").save()))
    _, plan_jobs = count_jobs(
        spark, lambda: tbl.read(partition_values=partition_values)
    )
    secs = sorted(s for s, _ in samples)
    return secs[len(secs) // 2], samples[0][1], plan_jobs


def main() -> None:
    rows = _arg("--rows", 256_000)
    buckets = _arg("--buckets", 64)
    payload = _arg("--payload", 1_000)
    runs = _arg("--runs", 3)
    checkpoints = [0, 1, 4, 16, 64]

    spark = build_session("eq_debt_probe")
    spark.sparkContext.setLogLevel("FATAL")
    wh = tempfile.mkdtemp(prefix="eq_debt_probe_")
    try:
        from icebergproject_spark.lakehouse.tableformat import LakehouseTable

        tbl = LakehouseTable(spark, wh, "probe", "assign")
        tbl.set_partitioning("cluster_id", f"mod{buckets}")
        seed = spark.range(rows).select(
            F.col("id").alias("node"), F.col("id").alias("cluster_id")
        )
        tbl.append(seed.repartition(F.pmod("cluster_id", F.lit(buckets))))

        out = []
        for debt in range(checkpoints[-1] + 1):
            if debt in checkpoints:
                full, full_jobs, full_plan = _median_read(spark, tbl, runs)
                pruned, pruned_jobs, pruned_plan = _median_read(
                    spark, tbl, runs, partition_values=[debt % buckets]
                )
                rec = {
                    "debt_files": debt,
                    "read_full_sec": full,
                    "read_full_jobs": full_jobs,
                    "read_full_plan_jobs": full_plan,
                    "read_pruned_sec": pruned,
                    "read_pruned_jobs": pruned_jobs,
                    "read_pruned_plan_jobs": pruned_plan,
                }
                out.append(rec)
                print(json.dumps(rec), flush=True)
            if debt == checkpoints[-1]:
                break
            # one maintenance-shaped upsert: `payload` nodes move to a
            # fresh cluster label (stable keys, changing values)
            ups = spark.range(payload).select(
                (F.col("id") * 97 + debt).cast("long").alias("node"),
                F.lit(debt).cast("long").alias("cluster_id"),
            )
            tbl.upsert_by_key(ups, ["node"])

        convert_sec, convert_jobs = _timed(spark, tbl.convert_equality_deletes)
        post_convert, post_convert_jobs, post_convert_plan = _median_read(
            spark, tbl, runs
        )
        compact_sec, compact_jobs = _timed(
            spark, lambda: tbl.compact(target_partitions=buckets)
        )
        post_compact, post_compact_jobs, post_compact_plan = _median_read(
            spark, tbl, runs
        )
        post_compact_pruned, _, _ = _median_read(
            spark, tbl, runs, partition_values=[1]
        )
        summary = {
            "rows": rows,
            "buckets": buckets,
            "payload": payload,
            "runs": runs,
            "curve": out,
            "convert_sec_at_64": convert_sec,
            "convert_jobs_at_64": convert_jobs,
            "read_full_post_convert_sec": post_convert,
            "read_full_post_convert_jobs": post_convert_jobs,
            "read_full_post_convert_plan_jobs": post_convert_plan,
            "compact_sec": compact_sec,
            "compact_jobs": compact_jobs,
            "read_full_post_compact_sec": post_compact,
            "read_full_post_compact_jobs": post_compact_jobs,
            "read_full_post_compact_plan_jobs": post_compact_plan,
            "read_pruned_post_compact_sec": post_compact_pruned,
        }
        print(json.dumps(summary), flush=True)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
