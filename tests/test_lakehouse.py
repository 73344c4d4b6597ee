"""Lakehouse table-format tests: append / merge / time travel / compaction /
snapshot expiry (SURVEY §2.9 M1–M3, K1/K6 semantics)."""

from __future__ import annotations

import os
import time

import pytest

from icebergproject_spark.lakehouse.tableformat import LakehouseCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakehouseCatalog(spark, warehouse=str(tmp_path), db="icebergdb")


def df_of(spark, rows):
    return spark.createDataFrame(rows, ["id", "v"])


def test_append_accumulates(spark, catalog):
    t = catalog.table("ODS_BROWSELOG")
    t.append(df_of(spark, [("1", "a")]))
    t.append(df_of(spark, [("2", "b")]))
    assert t.read().count() == 2
    assert [s["operation"] for s in t.history()] == ["append", "append"]


def test_time_travel(spark, catalog):
    t = catalog.table("DWD_USER_LOGIN")
    s1 = t.append(df_of(spark, [("1", "a")]))
    t.append(df_of(spark, [("2", "b")]))
    assert t.read(snapshot_id=s1["snapshot_id"]).count() == 1  # M3
    assert t.read().count() == 2
    assert t.read(as_of_ms=s1["timestamp_ms"]).count() == 1


def test_merge_upsert(spark, catalog):
    t = catalog.table("DIM_MEMBER_INFO")
    t.append(df_of(spark, [("1", "old"), ("2", "keep")]))
    t.merge(df_of(spark, [("1", "new"), ("3", "ins")]), ["id"])
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows == {"1": "new", "2": "keep", "3": "ins"}  # K6 MERGE semantics


def test_merge_last_writer_wins(spark, catalog):
    t = catalog.table("DIM_X")
    t.merge(df_of(spark, [("1", "first"), ("1", "second")]), ["id"])
    rows = t.read().collect()
    assert len(rows) == 1  # one row per key after batch dedup


def test_compaction_preserves_data(spark, catalog):
    t = catalog.table("DWS_BROWSE_INFO")
    for i in range(4):
        t.append(df_of(spark, [(str(i), "x")]))
    before = {r.id for r in t.read().collect()}
    t.compact(target_partitions=1)  # M1 rewrite_data_files
    assert {r.id for r in t.read().collect()} == before
    assert len(t.current_snapshot()["data_dirs"]) == 1


def test_expire_snapshots(spark, catalog):
    t = catalog.table("ODS_USER_LOGIN")
    t.append(df_of(spark, [("1", "a")]))
    t.append(df_of(spark, [("2", "b")]))
    time.sleep(0.01)
    n = t.expire_snapshots(older_than_ms=int(time.time() * 1000))  # M2
    assert n == 1  # old snapshot gone, current kept
    assert t.read().count() == 2
    with pytest.raises(ValueError):
        t.read(snapshot_id=1)


def test_maintain_all(spark, catalog):
    for name in ["T1", "T2"]:
        catalog.table(name).append(df_of(spark, [("1", "a")]))
    out = catalog.maintain_all()
    assert set(out) == {"T1", "T2"}
    for name in ["T1", "T2"]:
        assert catalog.table(name).read().count() == 1


def test_hidden_partitioning_prunes(spark, catalog):
    import pyspark.sql.functions as F

    t = catalog.table("DWD_BROWSELOG")
    t.set_partitioning("log_time", "day")
    df = spark.createDataFrame(
        [("1", "2022-06-15 06:00:00"), ("2", "2022-06-15 07:00:00"),
         ("3", "2022-06-16 08:00:00")],
        ["id", "log_time_str"],
    ).withColumn("log_time", F.col("log_time_str").cast("timestamp")).drop("log_time_str")
    t.append(df)
    t.append(spark.createDataFrame(
        [("4", "2022-06-17 09:00:00")], ["id", "s"]
    ).withColumn("log_time", F.col("s").cast("timestamp")).drop("s"))

    # full read: partition column hidden, all rows visible
    full = t.read()
    assert set(full.columns) == {"id", "log_time"}
    assert full.count() == 4

    # pruned read: only the requested day, and the cut happens at the
    # scan (PartitionFilters), not as a row filter
    pruned = t.read(partition_values=["2022-06-15"])
    assert {r.id for r in pruned.collect()} == {"1", "2"}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__p" in plan.split("PartitionFilters", 1)[1][:200]


def test_partitioning_declared_late_rejected(spark, catalog):
    t = catalog.table("T_LATE")
    t.append(df_of(spark, [("1", "a")]))
    with pytest.raises(ValueError):
        t.set_partitioning("id", "identity")


def test_partitioned_merge_and_compact(spark, catalog):
    import pyspark.sql.functions as F

    t = catalog.table("DIM_PARTED")
    t.set_partitioning("id", "bucket16")
    t.append(df_of(spark, [("1", "a"), ("2", "b")]))
    t.merge(df_of(spark, [("2", "B2"), ("3", "c")]), key_cols=["id"])
    assert dict((r.id, r.v) for r in t.read().collect()) == {
        "1": "a", "2": "B2", "3": "c"
    }
    t.compact()
    assert dict((r.id, r.v) for r in t.read().collect()) == {
        "1": "a", "2": "B2", "3": "c"
    }


def test_snapshot_diff_changelog(spark, tmp_path):
    """diff(s1, s2) recovers the changelog between two immutable
    snapshots: appended rows show as inserts, merge-replaced rows show
    as delete+insert pairs."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("T")
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]))
    s1 = t.current_snapshot()["snapshot_id"]
    t.append(spark.createDataFrame([("c", 3)], ["k", "v"]))
    t.merge(spark.createDataFrame([("a", 99)], ["k", "v"]), ["k"])
    s2 = t.current_snapshot()["snapshot_id"]

    changes = {(r.k, r.v, r._change_type) for r in t.diff(s1, s2).collect()}
    assert changes == {
        ("c", 3, "insert"),
        ("a", 99, "insert"),
        ("a", 1, "delete"),
    }


def test_maybe_compact_triggers_on_fragmentation(spark, tmp_path):
    """Compaction fires only past the fragmentation threshold, and the
    data survives the rewrite unchanged."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("FRAG")
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], ["v"]))
    assert t.maybe_compact(max_data_dirs=8) is None  # 3 dirs: no-op
    for i in range(3, 10):
        t.append(spark.createDataFrame([(i,)], ["v"]))
    assert len(t.current_snapshot()["data_dirs"]) == 10
    result = t.maybe_compact(max_data_dirs=8)
    assert result is not None
    assert len(t.current_snapshot()["data_dirs"]) == 1
    assert sorted(r.v for r in t.read().collect()) == list(range(10))


def test_additive_schema_evolution(spark, tmp_path):
    """A column added by a later append surfaces on read, null for rows
    written before it existed — instead of silently vanishing behind the
    first file's schema."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("EVO")
    t.append(spark.createDataFrame([(1, "a")], ["id", "name"]))
    t.append(spark.createDataFrame([(2, "b", "x@y.z")], ["id", "name", "email"]))
    rows = {r.id: r for r in t.read().collect()}
    assert set(rows[1].asDict()) == {"id", "name", "email"}
    assert rows[1].email is None
    assert rows[2].email == "x@y.z"


def test_delete_and_update_where(spark, tmp_path):
    """Copy-on-write DELETE/UPDATE: predicate rows removed/modified, the
    rest untouched, and time travel still sees the pre-change snapshot."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("CRUD")
    t.append(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], ["k", "v"]))
    s0 = t.current_snapshot()["snapshot_id"]

    t.delete_where("k = 'b'")
    assert {r.k for r in t.read().collect()} == {"a", "c"}

    t.update_where("k = 'c'", {"v": "v * 10"})
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {"a": 1, "c": 30}
    # history intact
    assert {r.k: r.v for r in t.read(snapshot_id=s0).collect()} == {
        "a": 1, "b": 2, "c": 3
    }


def test_metadata_tables_history_and_files(spark, tmp_path):
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("META")
    t.append(spark.createDataFrame([(1,)], ["v"]))
    t.append(spark.createDataFrame([(2,)], ["v"]))
    t.compact()
    hist = t.history_df().collect()
    assert [r.operation for r in hist] == ["append", "append", "compact"]
    assert [r.n_data_dirs for r in hist] == [1, 2, 1]
    files = t.files().collect()
    assert len(files) >= 1
    assert all(r.size_bytes > 0 and r.file_path.endswith(".parquet") for r in files)


def test_idempotent_append_skips_replayed_batch(spark, tmp_path):
    """A retried micro-batch (same batch id) must not double-append."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("IDEMP")
    df = spark.createDataFrame([(1,), (2,)], ["v"])
    assert t.idempotent_append(df, "q1-0") is not None
    assert t.idempotent_append(df, "q1-0") is None  # replay: no-op
    assert t.idempotent_append(df, "q1-1") is not None  # next batch appends
    assert t.read().count() == 4


def test_rollback_restores_old_state_auditable(spark, tmp_path):
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("RB")
    t.append(spark.createDataFrame([("good", 1)], ["k", "v"]))
    good = t.current_snapshot()["snapshot_id"]
    t.append(spark.createDataFrame([("bad", 2)], ["k", "v"]))
    assert t.read().count() == 2
    t.rollback(good)
    assert {r.k for r in t.read().collect()} == {"good"}
    # history preserved: rollback is a commit, bad snapshot still exists
    assert [s["operation"] for s in t.history()] == ["append", "append", "rollback"]


def test_partition_evolution_mixed_layout_reads(spark, tmp_path):
    """Iceberg-style partition evolution: data written BEFORE the spec
    change keeps its layout; the new spec applies to new writes only; a
    partition_values read stays correct across the mix (old dirs get the
    residual row filter, new dirs prune at the directory level)."""
    import pyspark.sql.functions as F

    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="pe")
    t = catalog.table("EVOLVE")

    def day_df(rows):
        return spark.createDataFrame(rows, ["id", "s"]).withColumn(
            "ts", F.col("s").cast("timestamp")
        ).drop("s")

    # unpartitioned era
    t.append(day_df([("1", "2022-06-15 06:00:00"), ("2", "2022-06-16 07:00:00")]))
    # evolve to day partitioning; new write lands partitioned
    t.evolve_partitioning("ts", "day")
    t.append(day_df([("3", "2022-06-15 08:00:00"), ("4", "2022-06-17 09:00:00")]))

    full = t.read()
    assert set(full.columns) == {"id", "ts"}
    assert full.count() == 4

    pruned = t.read(partition_values=["2022-06-15"])
    assert {r.id for r in pruned.collect()} == {"1", "3"}

    # the post-evolution dir prunes at the scan; the pre-evolution dir
    # contributes via the residual filter (no __p directories to prune)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_remove_orphan_files_sweeps_uncommitted_only(spark, tmp_path):
    """A crash between _write_data and _commit leaves an unreferenced
    data dir; orphan GC removes exactly that dir — committed dirs and
    fresh (in-flight) dirs survive."""
    import os
    import time as time_mod

    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="og")
    t = catalog.table("ORPHANS")
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))

    # simulate a crashed write: data materialized, commit never happened
    orphan = t._write_data(spark.createDataFrame([(9, "zz")], ["id", "v"]))
    assert os.path.exists(orphan)

    # age guard: a cutoff BEFORE the write leaves the orphan alone
    assert t.remove_orphan_files(older_than_ms=int(time_mod.time() * 1000) - 60_000) == 0
    assert os.path.exists(orphan)

    # real sweep: orphan gone, committed data intact, table still reads
    assert t.remove_orphan_files() == 1
    assert not os.path.exists(orphan)
    assert t.read().count() == 1


def test_remove_orphan_files_millisecond_boundary(spark, tmp_path):
    """Integer-ms boundary semantics, pinned deterministically with
    os.utime: cutoff == floor(mtime_ms) → the dir counts as "modified at
    the cutoff" and survives; cutoff == floor(mtime_ms)+1 → swept.
    Regression for the round-2 flake where the float-ms mtime raced the
    int-truncated default cutoff within one millisecond tick."""
    import os

    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="ogms")
    t = catalog.table("ORPHANS_MS")
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))

    orphan = t._write_data(spark.createDataFrame([(9, "zz")], ["id", "v"]))
    # force a fractional mtime inside a known millisecond tick (ns-exact)
    ns = 1_700_000_000_000_500_000  # 1_700_000_000_000 ms + 0.5 ms
    os.utime(orphan, ns=(ns, ns))
    tick_ms = 1_700_000_000_000

    assert t.remove_orphan_files(older_than_ms=tick_ms) == 0
    assert os.path.exists(orphan)
    assert t.remove_orphan_files(older_than_ms=tick_ms + 1) == 1
    assert not os.path.exists(orphan)
    assert t.read().count() == 1


def test_merge_with_delete_clause_cdc(spark, tmp_path):
    """MERGE with Iceberg's delete clause over a CDC batch: insert,
    update, and delete ops apply in one merge; a delete for an absent
    key is a no-op; CDC metadata columns stay out of the table schema."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="mc")
    t = catalog.table("DIM_CDC")
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"]))

    cdc = spark.createDataFrame(
        [
            (2, "B2", "U"),   # update
            (3, None, "D"),   # delete existing
            (4, "d", "I"),    # insert
            (99, None, "D"),  # delete absent key -> no-op
        ],
        ["id", "v", "op"],
    )
    t.merge(cdc, key_cols=["id"], delete_condition="op = 'D'", drop_cols=["op"])

    out = {r.id: r.v for r in t.read().collect()}
    assert out == {1: "a", 2: "B2", 4: "d"}
    assert set(t.read().columns) == {"id", "v"}


def test_merge_delete_clause_last_writer_wins(spark, tmp_path):
    """Within one CDC micro-batch the LATEST record per key decides:
    an earlier delete superseded by a later upsert re-inserts the row."""
    import pyspark.sql.functions as F

    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="mc2")
    t = catalog.table("DIM_CDC2")
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    cdc = spark.createDataFrame(
        [(1, None, "D"), (1, "a2", "U")], ["id", "v", "op"]
    )
    t.merge(cdc, key_cols=["id"], delete_condition=F.col("op") == "D", drop_cols=["op"])
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "a2")}


def test_numeric_type_widening_read(spark, tmp_path):
    """Iceberg-style type widening: a column written as INT in one
    snapshot and BIGINT in a later one reads back as the wider type
    (parquet footer merge refuses this; the union-coercion fallback
    handles it)."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="tw")
    t = catalog.table("WIDEN")
    t.append(
        spark.createDataFrame([(1, 10)], ["id", "v"]).selectExpr(
            "id", "cast(v as int) v"
        )
    )
    t.append(spark.createDataFrame([(2, 2**40)], ["id", "v"]))
    out = t.read()
    assert dict(out.dtypes)["v"] == "bigint"
    assert sorted((r.id, r.v) for r in out.collect()) == [(1, 10), (2, 2**40)]


def test_merge_on_read_delete_positional(spark, tmp_path):
    """Iceberg v2 MOR DELETE: data dirs untouched, a positional delete
    file subtracts rows at read, time travel sees pre-delete state, and
    later appends are unaffected by existing delete files."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("MOR")
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]))
    t.append(spark.createDataFrame([("c", 3), ("d", 4)], ["k", "v"]))
    pre = t.current_snapshot()
    snap = t.delete_where("v % 2 = 0", mode="merge-on-read")
    # O(matched) write: the data dirs are the parent's, plus one delete dir
    assert snap["data_dirs"] == pre["data_dirs"]
    assert len(snap["delete_dirs"]) == 1
    assert {r.k for r in t.read().collect()} == {"a", "c"}
    # time travel: the pre-delete snapshot still reads all four rows
    assert t.read(snapshot_id=pre["snapshot_id"]).count() == 4
    # appends carry deletes forward; new rows are never masked by them
    t.append(spark.createDataFrame([("e", 6)], ["k", "v"]))
    assert {r.k for r in t.read().collect()} == {"a", "c", "e"}


def test_merge_on_read_matches_copy_on_write(spark, tmp_path):
    """Same predicate, both write modes → identical remaining rows."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    rows = [(i, f"r{i}") for i in range(100)]
    cow, mor = catalog.table("COW"), catalog.table("MOR2")
    cow.append(spark.createDataFrame(rows, ["id", "s"]))
    mor.append(spark.createDataFrame(rows, ["id", "s"]))
    cow.delete_where("id % 7 = 0")
    mor.delete_where("id % 7 = 0", mode="merge-on-read")
    a = sorted((r.id, r.s) for r in cow.read().collect())
    b = sorted((r.id, r.s) for r in mor.read().collect())
    assert a == b and len(a) == 100 - 15


def test_merge_on_read_update_original_row_semantics(spark, tmp_path):
    """MOR UPDATE: delete file for old versions + data file with new
    versions; condition and RHS evaluate against the ORIGINAL row
    (UPDATE SET v=0, w=1 WHERE v>5 on (10,0) yields (0,1), never (0,0))."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("MORU")
    t.append(spark.createDataFrame([("x", 10, 0), ("y", 3, 7)], ["k", "v", "w"]))
    snap = t.update_where("v > 5", {"v": "0", "w": "1"}, mode="merge-on-read")
    assert len(snap["delete_dirs"]) == 1
    got = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert got == {"x": (0, 1), "y": (3, 7)}


def test_rewrite_position_deletes_and_compact_materializes(spark, tmp_path):
    """rewrite_position_deletes folds N delete files into one (rows
    unchanged); compact() materializes deletes entirely; expiry then GCs
    the unreferenced delete dirs."""
    import os as _os

    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("RPD")
    t.append(spark.createDataFrame([(i,) for i in range(20)], ["id"]))
    t.delete_where("id < 3", mode="merge-on-read")
    t.delete_where("id >= 17", mode="merge-on-read")
    assert len(t.current_snapshot()["delete_dirs"]) == 2
    snap = t.rewrite_position_deletes()
    assert len(snap["delete_dirs"]) == 1
    assert {r.id for r in t.read().collect()} == set(range(3, 17))
    t.compact()
    assert t.current_snapshot()["delete_dirs"] == []
    assert {r.id for r in t.read().collect()} == set(range(3, 17))
    # expire everything but current → all delete dirs are unreferenced
    t.expire_snapshots(older_than_ms=int(time.time() * 1000) + 1)
    assert _os.listdir(t.deletes_root) == []


def test_merge_on_read_delete_partitioned(spark, tmp_path):
    """MOR deletes compose with hidden partitioning + partition pruning."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("MORP")
    t.set_partitioning("day", transform="identity")
    t.append(
        spark.createDataFrame(
            [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)],
            ["day", "n"],
        )
    )
    t.delete_where("n = 2", mode="merge-on-read")
    assert {r.n for r in t.read().collect()} == {1, 3}
    pruned = t.read(partition_values=["2024-01-01"])
    assert {r.n for r in pruned.collect()} == {1}


def test_minmax_scan_pruning(spark, tmp_path):
    """read(where=...) prunes whole data dirs via footer min/max bounds
    at planning time, and always applies the full row filter."""
    from icebergproject_spark.lakehouse.tableformat import _parse_conjuncts

    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("PRUNE")
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(i, f"k{i:04d}") for i in range(lo, lo + 10)], ["id", "k"]
            )
        )
    dirs = t.current_snapshot()["data_dirs"]
    assert len(dirs) == 3

    # planning-time proof: exactly one dir can satisfy id >= 200
    conj = _parse_conjuncts("id >= 200")
    assert [t._dir_may_match(d, conj) for d in dirs] == [False, False, True]
    assert {r.id for r in t.read(where="id >= 200").collect()} == set(range(200, 210))

    # string bounds prune too (parquet keeps BYTE_ARRAY min/max)
    conj_s = _parse_conjuncts("k <= 'k0099'")
    assert [t._dir_may_match(d, conj_s) for d in dirs] == [True, False, False]
    assert t.read(where="k <= 'k0099'").count() == 10

    # row filter still narrows INSIDE the kept dir
    assert {r.id for r in t.read(where="id >= 205 AND id < 208").collect()} == {
        205, 206, 207
    }

    # OR is not AND-decomposable: nothing pruned, rows still correct
    assert _parse_conjuncts("id < 5 OR id >= 205") == []
    assert t.read(where="id < 5 OR id >= 205").count() == 10

    # every dir pruned: schema survives, zero rows
    out = t.read(where="id > 99999")
    assert out.columns == ["id", "k"] and out.count() == 0


def test_scan_pruning_composes_with_mor_deletes(spark, tmp_path):
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("PRUNEMOR")
    t.append(spark.createDataFrame([(i,) for i in range(10)], ["id"]))
    t.append(spark.createDataFrame([(i,) for i in range(100, 110)], ["id"]))
    t.delete_where("id = 105", mode="merge-on-read")
    got = {r.id for r in t.read(where="id >= 100").collect()}
    assert got == set(range(100, 110)) - {105}


def test_snapshot_summary_counts(spark, tmp_path):
    """Iceberg-style snapshot summary: added/total records from footer
    metadata, position-delete counts tracked, visible in history_df."""
    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    t = catalog.table("SUMM")
    t.append(spark.createDataFrame([(i,) for i in range(7)], ["id"]))
    t.append(spark.createDataFrame([(i,) for i in range(5)], ["id"]))
    t.delete_where("id = 0", mode="merge-on-read")
    snaps = t.history()
    assert [s["summary"]["added-records"] for s in snaps] == [7, 5, 0]
    assert [s["summary"]["total-records"] for s in snaps] == [7, 12, 12]
    # MOR delete: data records unchanged, 2 delete entries (id=0 twice)
    assert snaps[-1]["summary"]["total-position-deletes"] == 2
    h = {r.snapshot_id: r for r in t.history_df().collect()}
    assert h[2].total_records == 12 and h[3].total_position_deletes == 2


def test_merge_on_read_merge_matches_cow(spark, tmp_path):
    """MOR MERGE (delete file + applied-rows append) is semantically
    identical to COW MERGE for updates, inserts, and CDC deletes."""
    import pyspark.sql.functions as F

    catalog = LakehouseCatalog(spark, warehouse=str(tmp_path / "wh"), db="d")
    base = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    cdc = [
        (2, "b2", 21, "U"),   # update
        (4, "d", 40, "U"),    # insert
        (3, "c", 0, "D"),     # delete
    ]
    cow, mor = catalog.table("MCOW"), catalog.table("MMOR")
    for t in (cow, mor):
        t.append(spark.createDataFrame(base, ["id", "k", "v"]))
    updates = spark.createDataFrame(cdc, ["id", "k", "v", "op"])
    cow.merge(updates, ["id"], delete_condition=F.col("op") == "D", drop_cols=["op"])
    mor.merge(
        updates, ["id"], delete_condition=F.col("op") == "D", drop_cols=["op"],
        mode="merge-on-read",
    )
    a = sorted((r.id, r.k, r.v) for r in cow.read().collect())
    b = sorted((r.id, r.k, r.v) for r in mor.read().collect())
    assert a == b == [(1, "a", 10), (2, "b2", 21), (4, "d", 40)]
    # MOR wrote O(matched): parent data dirs still referenced
    snaps = mor.history()
    assert snaps[0]["data_dirs"][0] in snaps[-1]["data_dirs"]
    assert len(snaps[-1]["delete_dirs"]) == 1
    # compaction materializes and the result is unchanged
    mor.compact()
    assert sorted((r.id, r.k, r.v) for r in mor.read().collect()) == a


# --- refs: branches / tags / write-audit-publish ---------------------------

def test_branch_commits_invisible_until_publish(spark, catalog):
    t = catalog.table("DWS_BROWSE_INFO")
    t.append(df_of(spark, [("1", "a")]))
    t.create_branch("audit")
    t.append(df_of(spark, [("2", "b")]), branch="audit")
    assert t.read().count() == 1                 # main untouched
    assert t.read(ref="audit").count() == 2      # staged state visible via ref
    t.fast_forward("audit")
    assert t.read().count() == 2
    assert t.history()[-1]["operation"] == "publish"


def test_fast_forward_rejects_diverged_main(spark, catalog):
    t = catalog.table("DWS_BROWSE_INFO")
    t.append(df_of(spark, [("1", "a")]))
    t.create_branch("stage")
    t.append(df_of(spark, [("2", "b")]), branch="stage")
    t.append(df_of(spark, [("3", "c")]))         # main advances past fork
    with pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("stage")


def test_tag_pins_snapshot_across_appends_and_expiry(spark, catalog):
    t = catalog.table("DWS_USER_LOGIN")
    t.append(df_of(spark, [("1", "a")]))
    t.create_tag("corpus-v1")
    time.sleep(0.01)
    t.append(df_of(spark, [("2", "b")]))
    assert t.read(ref="corpus-v1").count() == 1
    # expiry would drop the old snapshot by age, but the tag pins it
    t.expire_snapshots(older_than_ms=int(time.time() * 1000) + 10_000)
    assert t.read(ref="corpus-v1").count() == 1
    assert t.read().count() == 2


def test_drop_branch_reclaims_staged_data(spark, catalog):
    t = catalog.table("ODS_USER_LOGIN")
    t.append(df_of(spark, [("1", "a")]))
    t.create_branch("bad")
    t.append(df_of(spark, [("2", "junk")]), branch="bad")
    assert t.drop_branch("bad") == 1
    assert t.read().count() == 1
    with pytest.raises(ValueError, match="unknown ref"):
        t.read(ref="bad")
    # staged dir is unreferenced now; orphan GC sweeps it
    assert t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 10_000) >= 1
    assert t.read().count() == 1


def test_write_audit_publish_approve_and_reject(spark, catalog):
    t = catalog.table("DWD_BROWSELOG")
    t.append(df_of(spark, [("1", "a")]))

    ok, snap = t.write_audit_publish(
        df_of(spark, [("2", "b")]), lambda df: df.count() == 2
    )
    assert ok and t.read().count() == 2
    assert t.history()[-1]["operation"] == "publish"

    # failing audit: main untouched, staged branch left for inspection
    ok, staged = t.write_audit_publish(
        df_of(spark, [("3", "c")]), lambda df: False
    )
    assert not ok and t.read().count() == 2
    staged_branch = staged["branch"]
    assert t.read(ref=staged_branch).count() == 3
    t.drop_branch(staged_branch)


def test_branch_append_does_not_shift_time_travel(spark, catalog):
    t = catalog.table("ODS_MEMBER_INFO")
    t.append(df_of(spark, [("1", "a")]))
    t.create_branch("s")
    t.append(df_of(spark, [("2", "b")]), branch="s")
    t.append(df_of(spark, [("3", "c")]))
    # as-of "now" resolves along main only: 2 rows, not the branch's 2+1
    rows = t.read(as_of_ms=int(time.time() * 1000) + 1000).count()
    assert rows == 2


def test_cli_maintain_command(spark, tmp_path, capsys, monkeypatch):
    """`python -m icebergproject_spark maintain --warehouse W` runs the
    reference's maintenance job over every table in the warehouse."""
    import time as _time

    from icebergproject_spark import __main__ as cli

    wh = str(tmp_path / "wh")
    catalog = LakehouseCatalog(spark, warehouse=wh, db="icebergdb")
    t = catalog.table("ODS_BROWSELOG")
    t.append(df_of(spark, [("1", "a")]))
    _time.sleep(0.01)
    t.append(df_of(spark, [("2", "b")]))

    monkeypatch.setattr(cli, "_session", lambda: spark)
    rc = cli.main(
        [
            "maintain",
            "--warehouse", wh,
            "--older-than-ms", str(int(_time.time() * 1000) + 10_000),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "ODS_BROWSELOG" in out
    # both pre-compaction snapshots expired; the compacted state survives
    assert t.read().count() == 2
    assert len(t.history()) == 1


def test_snapshot_ids_never_reused_after_drop_branch(spark, catalog):
    """Snapshot ids are monotonic over the table's LIFETIME: dropping a
    branch (which deletes its snapshot files) must not let the next
    commit reuse the dropped id — a tag pointing at the dropped id must
    fail loudly, never silently resolve to unrelated data."""
    t = catalog.table("IDS")
    t.append(df_of(spark, [("1", "a")]))           # snap 1
    t.create_branch("stage")
    staged = t.append(df_of(spark, [("2", "b")]), branch="stage")  # snap 2
    t.create_tag("pin", snapshot_id=staged["snapshot_id"])
    t.drop_branch("stage")
    after = t.append(df_of(spark, [("3", "c")]))   # must NOT take id 2
    assert after["snapshot_id"] > staged["snapshot_id"]
    # the tag's target is gone (dropped with the branch): loud failure,
    # not silent re-pointing at the new append
    with pytest.raises(Exception):
        t.read(ref="pin").collect()


def test_fast_forward_branch_reusable_for_next_cycle(spark, catalog):
    """Publishing advances the branch ref (Iceberg fast_forward moves
    refs): the same branch supports repeated stage -> publish cycles."""
    t = catalog.table("CYCLES")
    t.append(df_of(spark, [("1", "a")]))
    t.create_branch("audit")
    t.append(df_of(spark, [("2", "b")]), branch="audit")
    t.fast_forward("audit")
    assert t.read().count() == 2
    t.append(df_of(spark, [("3", "c")]), branch="audit")
    t.fast_forward("audit")                        # second cycle works
    assert t.read().count() == 3


def test_wap_drops_branch_when_audit_crashes(spark, catalog):
    """A CRASHING audit (vs a rejecting one) must not leak the anonymous
    staged branch — leaked live branches pin snapshots from expiry."""
    t = catalog.table("CRASH")
    t.append(df_of(spark, [("1", "a")]))
    with pytest.raises(RuntimeError, match="audit exploded"):
        t.write_audit_publish(
            df_of(spark, [("2", "b")]),
            lambda df: (_ for _ in ()).throw(RuntimeError("audit exploded")),
        )
    assert t._refs()["branches"] == {}
    assert t.read().count() == 1


def test_expire_retain_last_keeps_time_travel_horizon(spark, catalog):
    """retain_last keeps the newest N main snapshots through age-based
    expiry — the rollback horizon survives an aggressive cutoff."""
    import time as _time

    t = catalog.table("RETAIN")
    ids = []
    for v in ("a", "b", "c", "d"):
        ids.append(t.append(df_of(spark, [(v, v)]))["snapshot_id"])
        _time.sleep(0.01)
    cutoff = int(_time.time() * 1000) + 10_000  # everything is "old"
    expired = t.expire_snapshots(older_than_ms=cutoff, retain_last=3)
    assert expired == 1
    remaining = [s["snapshot_id"] for s in t.history()]
    assert remaining == ids[1:]                   # newest 3 survive
    assert t.read(snapshot_id=ids[1]).count() == 2  # horizon still travels
    assert t.read().count() == 4


def test_expire_rejects_invalid_retain_last(spark, catalog):
    t = catalog.table("RETAIN2")
    t.append(df_of(spark, [("1", "a")]))
    with pytest.raises(ValueError, match="retain_last"):
        t.expire_snapshots(retain_last=0)


def test_incremental_batches_append_feed(spark, catalog):
    """Table-as-a-source: a consumer drains one batch per append since
    its offset; compaction emits an empty placeholder (offset advances,
    no rows re-delivered)."""
    t = catalog.table("FEED")
    s1 = t.append(df_of(spark, [("1", "a"), ("2", "b")]))["snapshot_id"]
    s2 = t.append(df_of(spark, [("3", "c")]))["snapshot_id"]

    # cold start: both appends, in order, exactly their own rows
    feed = t.incremental_batches()
    assert [(sid, op) for sid, op, _ in feed] == [(s1, "append"), (s2, "append")]
    assert sorted(r.id for r in feed[0][2].collect()) == ["1", "2"]
    assert [r.id for r in feed[1][2].collect()] == ["3"]

    # offset-based resume: only the new append after s1
    resumed = t.incremental_batches(from_snapshot_id=s1)
    assert [(sid, op) for sid, op, _ in resumed] == [(s2, "append")]

    # compaction reorganizes, it must not re-deliver rows
    t.compact()
    t.append(df_of(spark, [("4", "d")]))
    tail = t.incremental_batches(from_snapshot_id=s2)
    assert [op for _, op, _ in tail] == ["compact", "append"]
    assert tail[0][2].count() == 0
    assert [r.id for r in tail[1][2].collect()] == ["4"]
    # caught up: empty
    assert t.incremental_batches(from_snapshot_id=tail[-1][0]) == []


def test_incremental_batches_full_state_after_retention(spark, catalog):
    """Cold start (or an offset that outlived retention) must receive the
    table's FULL STATE as the first batch even when the oldest retained
    snapshot is a non-append (compact after maintain) — previously the
    compact emitted an empty placeholder and the consumer silently never
    saw the existing rows."""
    t = catalog.table("FEED_RET")
    s1 = t.append(df_of(spark, [("1", "a"), ("2", "b")]))["snapshot_id"]
    t.append(df_of(spark, [("3", "c")]))
    t.compact()
    # expire everything but the compact snapshot: the feed's oldest
    # retained entry is now op='compact'
    t.expire_snapshots(retain_last=1)
    assert [s["operation"] for s in t._mainline()] == ["compact"]

    # cold start: first (only) batch carries the full 3-row state
    feed = t.incremental_batches()
    assert [op for _, op, _ in feed] == ["compact"]
    assert sorted(r.id for r in feed[0][2].collect()) == ["1", "2", "3"]

    # an offset that outlived retention (s1 is gone) also restarts full
    stale = t.incremental_batches(from_snapshot_id=s1)
    assert sorted(r.id for r in stale[0][2].collect()) == ["1", "2", "3"]


def test_read_ref_conflicts_with_time_travel(spark, catalog):
    """read(ref=...) combined with snapshot_id/as_of_ms is ambiguous
    (Iceberg treats them as mutually exclusive selectors) — must raise,
    not silently resolve along main and ignore the ref."""
    t = catalog.table("REFX")
    s1 = t.append(df_of(spark, [("1", "a")]))["snapshot_id"]
    t.create_branch("b1")
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.read(ref="b1", snapshot_id=s1)
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.read(ref="b1", as_of_ms=10**15)


def test_commit_id_minting_skips_claimed_ids(spark, catalog):
    """The O_EXCL claim file is the commit arbiter: an id already claimed
    by a concurrent committer is skipped, never minted twice."""
    import os

    t = catalog.table("CLAIMS")
    s1 = t.append(df_of(spark, [("1", "a")]))["snapshot_id"]
    # simulate a concurrent committer holding the next id
    claim = os.path.join(t.snap_dir, f"snap-{s1 + 1:09d}.json.lock")
    open(claim, "x").close()
    s2 = t.append(df_of(spark, [("2", "b")]))["snapshot_id"]
    assert s2 == s1 + 2  # claimed id skipped
    assert sorted(r.id for r in t.read().collect()) == ["1", "2"]


# --- Iceberg-spec-shaped metadata tree (round 3, VERDICT ask #7) -----------

def test_manifest_list_chain_resolves_scan(spark, catalog):
    """version-hint -> vN.metadata.json -> manifest list -> manifests ->
    data files must resolve the same rows as the snapshot read, for the
    current AND a historical snapshot."""
    import json
    import os

    t = catalog.table("MLIST")
    s1 = t.append(df_of(spark, [("1", "a"), ("2", "b")]))["snapshot_id"]
    t.append(df_of(spark, [("3", "c")]))

    via = {r.id for r in t.read_via_manifests().collect()}
    assert via == {r.id for r in t.read().collect()} == {"1", "2", "3"}
    old = {r.id for r in t.read_via_manifests(snapshot_id=s1).collect()}
    assert old == {"1", "2"}

    # layout: hint + versioned metadata + one manifest list per snapshot
    md = t.metadata_dir
    names = sorted(os.listdir(md))
    assert "version-hint.text" in names
    with open(os.path.join(md, "version-hint.text")) as f:
        n = int(f.read())
    assert n == 2  # two commits -> v1, v2
    assert f"v{n}.metadata.json" in names
    assert sum(1 for x in names if x.endswith(".manifest-list.avro")) == 2
    # metadata-log chains v1 under v2
    with open(os.path.join(md, f"v{n}.metadata.json")) as f:
        meta = json.load(f)
    assert meta["metadata-log"] and meta["metadata-log"][0]["metadata-file"].endswith(
        "v1.metadata.json"
    )


def test_manifest_reuse_across_snapshots(spark, catalog):
    """A data dir's manifest is written ONCE (at first appearance) and
    later snapshots' manifest lists reference it as existing files —
    Iceberg's manifest-reuse model: unchanged data is never re-listed."""
    import json
    import os

    t = catalog.table("MREUSE")
    s1 = t.append(df_of(spark, [("1", "a")]))["snapshot_id"]
    s2 = t.append(df_of(spark, [("2", "b")]))["snapshot_id"]

    md = t.metadata_dir
    manifests = [x for x in os.listdir(md) if x.startswith("manifest-data-")]
    assert len(manifests) == 2  # one per data dir, not per (snapshot, dir)

    from icebergproject_spark.lakehouse.avro_ocf import read_ocf

    _, _, ml = read_ocf(os.path.join(md, f"snap-{s2:09d}.manifest-list.avro"))
    assert len(ml) == 2
    by_added = {e["added_snapshot_id"]: e for e in ml}
    # the dir from s1 appears as EXISTING in s2's list, the new one as ADDED
    assert by_added[s1]["existing_files_count"] >= 1
    assert by_added[s1]["added_files_count"] == 0
    assert by_added[s2]["added_files_count"] >= 1
    assert by_added[s2]["added_rows_count"] == 1


def test_metadata_field_names_match_iceberg_v2_spec(spark, catalog):
    """Field-name parity with the Iceberg format-version-2 spec: the
    table metadata, manifest-list entries, and manifest entries carry
    the spec's field names, and manifests / manifest lists are REAL
    Avro object container files (spec field-ids in their schemas)."""
    import json
    import os

    t = catalog.table("MSPEC")
    t.append(df_of(spark, [("1", "a")]))

    md = t.metadata_dir
    with open(os.path.join(md, "v1.metadata.json")) as f:
        meta = json.load(f)
    required_meta = {
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "schemas", "current-schema-id",
        "partition-specs", "default-spec-id", "last-partition-id",
        "sort-orders", "default-sort-order-id", "properties",
        "current-snapshot-id", "snapshots", "snapshot-log", "metadata-log",
        "refs",
    }
    assert required_meta <= set(meta)
    assert meta["format-version"] == 2
    snap = meta["snapshots"][0]
    assert {
        "snapshot-id", "parent-snapshot-id", "sequence-number",
        "timestamp-ms", "manifest-list", "summary",
    } <= set(snap)
    assert "operation" in snap["summary"]

    from icebergproject_spark.lakehouse.avro_ocf import read_ocf

    list_schema, _, ml = read_ocf(snap["manifest-list"])
    assert snap["manifest-list"].endswith(".avro")
    assert list_schema["name"] == "manifest_file"
    entry = ml[0]
    assert {
        "manifest_path", "manifest_length", "partition_spec_id", "content",
        "sequence_number", "min_sequence_number", "added_snapshot_id",
        "added_files_count", "existing_files_count", "deleted_files_count",
        "added_rows_count", "existing_rows_count", "deleted_rows_count",
    } <= set(entry)

    man_schema, man_meta, entries = read_ocf(entry["manifest_path"])
    assert man_schema["name"] == "manifest_entry"
    # spec field-ids ride the Avro schema as the standard attribute
    assert man_schema["fields"][0]["field-id"] == 0
    assert man_meta["content"] == "data"
    e = entries[0]
    assert {"status", "snapshot_id", "sequence_number", "data_file"} <= set(e)
    assert {
        "content", "file_path", "file_format", "partition", "record_count",
        "file_size_in_bytes",
    } <= set(e["data_file"])
    assert e["data_file"]["file_format"] == "PARQUET"
    assert e["data_file"]["record_count"] == 1


def test_read_via_manifests_applies_position_deletes(spark, catalog):
    """content=1 (delete) manifests route through the chain and the
    metadata-only scan subtracts them like read() does."""
    t = catalog.table("MDEL")
    t.append(df_of(spark, [("1", "a"), ("2", "b"), ("3", "c")]))
    t.delete_where("id = '2'", mode="merge-on-read")

    assert {r.id for r in t.read_via_manifests().collect()} == {"1", "3"}
    assert {r.id for r in t.read().collect()} == {"1", "3"}


# --- round 4: commit concurrency (CAS) + evolved-schema manifest scans -----

def test_commit_conflict_on_stale_parent(spark, catalog):
    """True CAS semantics (ADVICE r3): a commit whose expected parent is
    no longer the branch head FAILS with CommitConflictError instead of
    publishing a snapshot that silently omits the concurrent commit's
    data_dirs (last-writer-wins lost update)."""
    import pytest

    from icebergproject_spark.lakehouse.tableformat import CommitConflictError

    t = catalog.table("CAS")
    s1 = t.append(df_of(spark, [("1", "a")]))
    # committer A reads the head and computes its change against it
    stale_parent = s1["snapshot_id"]
    new_dir = t._write_data(df_of(spark, [("2", "b")]))
    # committer B lands first
    t.append(df_of(spark, [("3", "c")]))
    # A's commit must now fail, not overwrite B's visibility
    with pytest.raises(CommitConflictError):
        t._commit(
            "append",
            s1["data_dirs"] + [new_dir],
            expected_parent_id=stale_parent,
        )
    # retry on the new base succeeds and loses nothing
    head = t.current_snapshot()
    t._commit(
        "append",
        head["data_dirs"] + [new_dir],
        expected_parent_id=head["snapshot_id"],
    )
    assert sorted(r.id for r in t.read().collect()) == ["1", "2", "3"]


def test_commit_lock_released_and_stale_lock_stolen(spark, catalog):
    """The table-level commit lock serializes commits, is released after
    every commit, and a lock abandoned by a crashed committer is stolen
    once stale (no permanent wedge)."""
    import os
    import time as _time

    t = catalog.table("LOCK")
    t.append(df_of(spark, [("1", "a")]))
    lock = os.path.join(t.root, "commit.lock")
    assert not os.path.exists(lock)  # released
    # simulate a crashed committer's abandoned lock, already stale
    open(lock, "x").close()
    past = _time.time() - (t._COMMIT_LOCK_STALE_S + 5)
    os.utime(lock, (past, past))
    t.append(df_of(spark, [("2", "b")]))  # steals, commits, releases
    assert sorted(r.id for r in t.read().collect()) == ["1", "2"]
    assert not os.path.exists(lock)


def test_read_via_manifests_sees_evolved_schema(spark, catalog):
    """ADVICE r3: the metadata-chain scan must honor additive schema
    evolution like read() — a column added by a later snapshot surfaces
    (null for pre-existing rows) instead of being dropped by the first
    file's schema."""
    t = catalog.table("MEVO")
    t.append(spark.createDataFrame([(1, "a")], ["id", "name"]))
    t.append(spark.createDataFrame([(2, "b", "x@y.z")], ["id", "name", "email"]))
    via = {r.id: r for r in t.read_via_manifests().collect()}
    assert set(via[1].asDict()) == {"id", "name", "email"}
    assert via[1].email is None and via[2].email == "x@y.z"
    # and with a position delete in the chain too (the second branch)
    t.delete_where("id = 1", mode="merge-on-read")
    rows = {r.id: r for r in t.read_via_manifests().collect()}
    assert set(rows) == {2} and rows[2].email == "x@y.z"


# --- round 4: field-id-addressed schema evolution (rename-safe reads) ------

def test_rename_column_is_metadata_only_and_rename_safe(spark, catalog):
    """VERDICT r3 ask #3: rename a column, WRITE under the new name,
    and read back old + new snapshots correctly — old data files keep
    serving the renamed column by FIELD ID (name-based evolution would
    silently split them into two columns)."""
    t = catalog.table("RENAME")
    s1 = t.append(spark.createDataFrame([(1, "alice")], ["id", "name"]))
    t.rename_column("name", "full_name")
    s2 = t.append(spark.createDataFrame([(2, "bob")], ["id", "full_name"]))

    # current read: ONE column under the new name, both rows present
    rows = {r.id: r for r in t.read().collect()}
    assert set(rows[1].asDict()) == {"id", "full_name"}
    assert rows[1].full_name == "alice" and rows[2].full_name == "bob"

    # time travel to the pre-rename snapshot: the OLD name (Iceberg
    # renders names as of the snapshot's schema)
    old = t.read(snapshot_id=s1["snapshot_id"]).collect()
    assert set(old[0].asDict()) == {"id", "name"}
    assert old[0].name == "alice"

    # post-rename snapshot via explicit id: new name, both rows
    cur = {r.id: r.full_name
           for r in t.read(snapshot_id=s2["snapshot_id"]).collect()}
    assert cur == {1: "alice", 2: "bob"}

    # rename is METADATA-ONLY: no new data dirs were written for it
    assert s2["data_dirs"][:1] == s1["data_dirs"]


def test_rename_then_metadata_chain_scan_agrees(spark, catalog):
    """read_via_manifests resolves renames identically to read() (the
    metadata chain carries field-id resolution too)."""
    t = catalog.table("RENMAN")
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    t.rename_column("v", "val")
    t.append(spark.createDataFrame([(2, "b")], ["id", "val"]))
    via = {r.id: r.val for r in t.read_via_manifests().collect()}
    assert via == {1: "a", 2: "b"}
    assert set(t.read_via_manifests().columns) == {"id", "val"}


def test_rename_guards(spark, catalog):
    import pytest

    t = catalog.table("RENG")
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "id")


def test_rename_roundtrip_back_to_original_name(spark, catalog):
    """Rename A→B→A: field ids make this safe; all rows stay one column."""
    t = catalog.table("RENAB")
    t.append(spark.createDataFrame([(1, "x")], ["id", "v"]))
    t.rename_column("v", "w")
    t.append(spark.createDataFrame([(2, "y")], ["id", "w"]))
    t.rename_column("w", "v")
    t.append(spark.createDataFrame([(3, "z")], ["id", "v"]))
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows == {1: "x", 2: "y", 3: "z"}
    assert set(t.read().columns) == {"id", "v"}


def test_field_ids_in_table_metadata(spark, catalog):
    """v<N>.metadata.json carries the real schemas list: field ids,
    per-version field sets, and last-column-id (was a placeholder)."""
    import json
    import os

    t = catalog.table("FIDMETA")
    t.append(spark.createDataFrame([(1, "a")], ["id", "name"]))
    t.rename_column("name", "label")
    t.append(spark.createDataFrame([(2, "b", 3.5)], ["id", "label", "score"]))
    md = t.metadata_dir
    with open(os.path.join(md, "version-hint.text")) as f:
        n = int(f.read())
    with open(os.path.join(md, f"v{n}.metadata.json")) as f:
        meta = json.load(f)
    assert meta["last-column-id"] == 3  # id, name/label, score
    cur = next(s for s in meta["schemas"]
               if s["schema-id"] == meta["current-schema-id"])
    by_name = {f["name"]: f["id"] for f in cur["fields"]}
    assert by_name == {"id": 1, "label": 2, "score": 3}
    # the pre-rename schema version is still listed with the old name
    first = next(s for s in meta["schemas"] if s["schema-id"] == 0)
    assert {f["name"] for f in first["fields"]} == {"id", "name"}


def test_parquet_files_carry_field_ids(spark, catalog):
    """The data files themselves carry Iceberg-standard PARQUET:field_id
    column metadata (Spark's native fieldId writer), stable across
    renames — a real Iceberg reader resolving columns BY ID would read
    these files correctly with no sidecar."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    t = catalog.table("FIDPQ")
    t.append(spark.createDataFrame([(1, "a")], ["id", "name"]))
    t.rename_column("name", "label")
    t.append(spark.createDataFrame([(2, "b")], ["id", "label"]))

    with open(os.path.join(t.root, "schema.json")) as f:
        st = json.load(f)
    cur = next(s for s in st["schemas"] if s["schema-id"] == st["current-schema-id"])
    ids = {f["name"]: f["id"] for f in cur["fields"]}  # {'id': 1, 'label': 2}

    seen_dirs = 0
    for snap_dir in t.current_snapshot()["data_dirs"]:
        for pf in glob.glob(os.path.join(snap_dir, "**", "*.parquet"), recursive=True):
            if pq.ParquetFile(pf).metadata.num_rows == 0:
                continue
            seen_dirs += 1
            for field in pq.ParquetFile(pf).schema_arrow:
                fid = int(field.metadata[b"PARQUET:field_id"])
                # name at write time may be pre-rename ('name'), but the
                # FIELD ID always matches the live schema's id for that
                # column lineage
                expected = ids["label"] if field.name in ("name", "label") else ids[field.name]
                assert fid == expected, (pf, field.name, fid)
    assert seen_dirs >= 2  # both dirs (pre- and post-rename) checked


def test_drop_column_metadata_only_with_time_travel(spark, catalog):
    """drop_column retires the field id: current reads exclude the
    column (data files untouched), pre-drop snapshots still time-travel
    WITH it."""
    t = catalog.table("DROPC")
    s1 = t.append(spark.createDataFrame([(1, "a", 10)], ["id", "v", "extra"]))
    t.drop_column("extra")
    t.append(spark.createDataFrame([(2, "b")], ["id", "v"]))
    assert set(t.read().columns) == {"id", "v"}
    assert {r.id for r in t.read().collect()} == {1, 2}
    # pre-drop snapshot still shows the column
    old = t.read(snapshot_id=s1["snapshot_id"]).collect()[0]
    assert set(old.asDict()) == {"id", "v", "extra"} and old.extra == 10
    # metadata chain agrees with read()
    assert set(t.read_via_manifests().columns) == {"id", "v"}


def test_drop_then_readd_mints_fresh_id(spark, catalog):
    """Re-adding a dropped column name mints a NEW field id: retired
    values stay invisible (old rows read NULL), new rows carry the new
    column — Iceberg's drop/re-add contract, which name-based evolution
    gets wrong by resurrecting old bytes."""
    import json
    import os

    t = catalog.table("READD")
    t.append(spark.createDataFrame([(1, "x")], ["id", "tag"]))
    t.drop_column("tag")
    t.append(spark.createDataFrame([(2, "y")], ["id", "tag"]))
    rows = {r.id: r.tag for r in t.read().collect()}
    assert rows == {1: None, 2: "y"}  # old 'x' does NOT resurrect
    with open(os.path.join(t.root, "schema.json")) as f:
        st = json.load(f)
    ids = [f2["id"] for s in st["schemas"] for f2 in s["fields"] if f2["name"] == "tag"]
    assert len(set(ids)) == 2  # original and re-added tag have distinct ids
    assert st["last-column-id"] == 3


def test_drop_column_guards(spark, catalog):
    import pytest

    t = catalog.table("DROPG")
    t.append(spark.createDataFrame([(1,)], ["id"]))
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("nope")
    with pytest.raises(ValueError, match="last column"):
        t.drop_column("id")


def test_concurrent_appends_all_land(spark, catalog):
    """Commit concurrency stress: 8 threads append in parallel; CAS +
    bounded retry must land EVERY append — all rows readable, one
    linear parent chain, unique snapshot ids, no lost update."""
    from concurrent.futures import ThreadPoolExecutor

    t = catalog.table("CONC")
    n_threads, per_thread = 8, 3

    def worker(w: int) -> list[int]:
        out = []
        for j in range(per_thread):
            snap = t.append(df_of(spark, [(f"{w}-{j}", "v")]))
            out.append(snap["snapshot_id"])
        return out

    with ThreadPoolExecutor(max_workers=n_threads) as ex:
        ids = [i for ids_ in ex.map(worker, range(n_threads)) for i in ids_]

    assert len(ids) == len(set(ids)) == n_threads * per_thread
    rows = sorted(r.id for r in t.read().collect())
    assert rows == sorted(f"{w}-{j}" for w in range(n_threads) for j in range(per_thread))
    # one linear mainline: every snapshot's parent is the previous one
    chain = t._mainline()
    assert len(chain) == n_threads * per_thread
    for prev, nxt in zip(chain, chain[1:]):
        assert nxt["parent_id"] == prev["snapshot_id"]
    # and the final snapshot references every data dir
    assert len(chain[-1]["data_dirs"]) == n_threads * per_thread


def test_lock_release_after_steal_keeps_stealers_lock(spark, catalog, tmp_path):
    """ADVICE r4 #1: a holder whose commit lock was STOLEN (stale
    threshold exceeded) must not delete the stealer's lock from its
    finally-block — release is ownership-checked by token."""
    import os

    t = catalog.table("LOCKOWN")
    lock_path = os.path.join(t.root, "commit.lock")

    token_a = t._acquire_commit_lock()
    assert os.path.exists(lock_path)
    # simulate a >stale-threshold stall: backdate the lock's mtime
    old = time.time() - t._COMMIT_LOCK_STALE_S - 5
    os.utime(lock_path, (old, old))
    token_b = t._acquire_commit_lock()  # steals
    assert token_a != token_b
    with open(lock_path) as f:
        assert f.read() == token_b

    # the stalled original holder releases: MUST be a no-op
    t._release_commit_lock(token_a)
    assert os.path.exists(lock_path)
    with open(lock_path) as f:
        assert f.read() == token_b

    # the stealer's release removes it
    t._release_commit_lock(token_b)
    assert not os.path.exists(lock_path)
    # double-release tolerated
    t._release_commit_lock(token_b)


def test_metadata_only_ddl_visible_without_subsequent_write(spark, catalog):
    """ADVICE r4 #2: rename/drop with NO write after them must show on
    the very next current read (Iceberg DDL is metadata-only and takes
    effect immediately); explicit time travel still renders AS OF the
    snapshot's schema."""
    t = catalog.table("DDLNOW")
    s1 = t.append(df_of(spark, [("1", "a"), ("2", "b")]))
    t.rename_column("v", "val")
    # current read: new name, no write happened since the DDL
    assert set(t.read().columns) == {"id", "val"}
    assert set(t.read_via_manifests().columns) == {"id", "val"}
    # explicit time travel renders the OLD name (schema AS OF snapshot)
    assert set(t.read(snapshot_id=s1["snapshot_id"]).columns) == {"id", "v"}

    t.drop_column("val")
    assert set(t.read().columns) == {"id"}
    assert set(t.read_via_manifests().columns) == {"id"}
    # travel still shows the pre-rename column
    assert set(t.read(snapshot_id=s1["snapshot_id"]).columns) == {"id", "v"}


def test_concurrent_append_vs_compact_no_lost_update(spark, catalog):
    """ADVICE r4 #3: compact (and other derived-state mutators) are
    CAS-guarded — appends landing while the rewrite runs are never
    dropped from the compacted snapshot."""
    from concurrent.futures import ThreadPoolExecutor

    t = catalog.table("CASMUT")
    for i in range(4):
        t.append(df_of(spark, [(f"seed-{i}", "v")]))

    def appender():
        out = []
        for j in range(4):
            out.append(t.append(df_of(spark, [(f"app-{j}", "v")])))
        return out

    def compactor():
        out = []
        for _ in range(3):
            out.append(t.compact())
        return out

    with ThreadPoolExecutor(max_workers=2) as ex:
        fa = ex.submit(appender)
        fc = ex.submit(compactor)
        fa.result(), fc.result()

    rows = sorted(r.id for r in t.read().collect())
    assert rows == sorted(
        [f"seed-{i}" for i in range(4)] + [f"app-{j}" for j in range(4)]
    )


def test_concurrent_merge_additive_no_lost_partials(spark, catalog):
    """Two merge_additive committers racing must both contribute their
    partial sums (CAS retry), never last-writer-wins."""
    from concurrent.futures import ThreadPoolExecutor

    t = catalog.table("ADDCAS")
    t.merge_additive(
        spark.createDataFrame([("k1", 10), ("k2", 20)], ["k", "total"]), ["k"]
    )

    def worker(amount: int):
        return t.merge_additive(
            spark.createDataFrame([("k1", amount)], ["k", "total"]), ["k"]
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(worker, [1, 2]))

    got = {r.k: r.total for r in t.read().collect()}
    assert got == {"k1": 13, "k2": 20}


# --- Iceberg v2 equality deletes (VERDICT r5 ask #5) ----------------------


def test_equality_delete_scoping_fold_and_time_travel(spark, catalog):
    """delete_by_key writes an equality-delete file WITHOUT scanning the
    table; the delete applies only to data dirs live at commit time
    (rows appended later with the same key survive — the spec's
    sequence-number scoping); compaction folds it out; time travel to
    the pre-delete snapshot still sees the rows; and the metadata tree
    lists the key file as a content=2 data_file with equality_ids."""
    t = catalog.table("EQDEL")
    t.append(df_of(spark, [("1", "a"), ("2", "b"), ("3", "c")]))
    pre = t.append(df_of(spark, [("4", "d"), ("5", "e")]))

    snap = t.delete_by_key(spark.createDataFrame([("2",), ("5",)], ["id"]))
    assert snap["summary"]["total-equality-deletes"] == 2
    assert {r.id for r in t.read().collect()} == {"1", "3", "4"}

    # sequence scoping: a LATER append re-inserting key 2 survives
    t.append(df_of(spark, [("2", "b2"), ("6", "f")]))
    got = {(r.id, r.v) for r in t.read().collect()}
    assert got == {("1", "a"), ("3", "c"), ("4", "d"), ("2", "b2"), ("6", "f")}

    # read_via_manifests resolves the same state purely from the
    # Iceberg-shaped metadata chain (manifests route content=2 entries)
    assert {
        (r.id, r.v) for r in t.read_via_manifests().collect()
    } == got

    # the manifest for the equality-delete dir carries content=2 +
    # the key column's field id
    eq_entry = t.current_snapshot()["eq_delete_dirs"][0]
    man = t._read_manifest(t._manifest_path_for_dir(eq_entry["dir"], "eq-deletes"))
    assert all(e["data_file"]["content"] == 2 for e in man["entries"])
    assert man["entries"][0]["data_file"]["equality_ids"] == eq_entry["field_ids"]

    # time travel: the pre-delete snapshot still has 2 and 5
    assert {r.id for r in t.read(snapshot_id=pre["snapshot_id"]).collect()} == {
        "1", "2", "3", "4", "5",
    }

    # compaction folds the equality delete out entirely
    t.compact()
    cur = t.current_snapshot()
    assert cur["eq_delete_dirs"] == []
    assert {(r.id, r.v) for r in t.read().collect()} == got
    # and history remains time-travelable after the fold
    assert {r.id for r in t.read(snapshot_id=pre["snapshot_id"]).collect()} == {
        "1", "2", "3", "4", "5",
    }


def test_equality_delete_null_key_matches_null(spark, catalog):
    """Per the Iceberg spec an equality field that is null matches rows
    whose column is null (join must be null-safe, not equi)."""
    t = catalog.table("EQNULL")
    t.append(
        spark.createDataFrame(
            [("1", "a"), (None, "b"), ("3", None)], "id string, v string"
        )
    )
    t.delete_by_key(spark.createDataFrame([(None,)], "id string"))
    assert {(r.id, r.v) for r in t.read().collect()} == {("1", "a"), ("3", None)}


def test_equality_delete_survives_appends_and_gc(spark, catalog):
    """The equality-delete key dir is referenced state: appends carry it
    forward and orphan GC / expiry never collect it while a live
    snapshot references it."""
    import os

    t = catalog.table("EQGC")
    t.append(df_of(spark, [("1", "a"), ("2", "b")]))
    t.delete_by_key(spark.createDataFrame([("2",)], ["id"]))
    t.append(df_of(spark, [("3", "c")]))
    eq_dir = t.current_snapshot()["eq_delete_dirs"][0]["dir"]
    assert os.path.isdir(eq_dir)
    t.remove_orphan_files()
    assert os.path.isdir(eq_dir)  # referenced → survives
    assert {r.id for r in t.read().collect()} == {"1", "3"}


def test_equality_delete_on_partitioned_table(spark, catalog):
    """The partitioned read path (per-dir scans + union) applies
    equality deletes too — the __file address survives the union, and
    partition pruning composes with the key subtraction."""
    import pyspark.sql.functions as F

    t = catalog.table("EQPART")
    t.set_partitioning("ts", "day")
    df = spark.createDataFrame(
        [("1", "2022-06-15 06:00:00"), ("2", "2022-06-15 07:00:00"),
         ("3", "2022-06-16 08:00:00")],
        ["id", "s"],
    ).withColumn("ts", F.col("s").cast("timestamp")).drop("s")
    t.append(df)
    t.delete_by_key(spark.createDataFrame([("2",)], ["id"]))
    assert {r.id for r in t.read().collect()} == {"1", "3"}
    # pruned scan of the 06-15 partition: key 2 still subtracted
    assert {
        r.id for r in t.read(partition_values=["2022-06-15"]).collect()
    } == {"1"}


def test_maintain_policy_convert_then_compact(spark, catalog):
    """The one-call maintenance scheduler: thresholds gate each action,
    compaction SUBSUMES delete maintenance (never runs convert first
    when a compact is due), convert fires on eq-file pressure alone,
    positional rewrite on delete-dir pressure alone — and the read
    result is byte-identical across every action."""
    t = catalog.table("MAINT")
    t.append(df_of(spark, [(str(i), f"v{i}") for i in range(20)]))
    assert t.maintain() is None  # healthy table: nothing to do

    # eq-file pressure below data-dir threshold -> convert, not compact
    for i in range(5):
        t.delete_by_key(spark.createDataFrame([(str(i),)], ["id"]))
    before = {(r.id, r.v) for r in t.read().collect()}
    assert len(before) == 15
    res = t.maintain(max_data_dirs=8, max_eq_delete_files=4)
    assert res is not None and res["action"] == "convert_equality_deletes"
    assert res["commit"]["eq_delete_dirs"] == []
    assert len(t.current_snapshot()["data_dirs"]) == 1  # data untouched
    assert {(r.id, r.v) for r in t.read().collect()} == before

    # positional-dir pressure (from the convert + MOR deletes) -> rewrite
    t.delete_where("id = '5'", mode="merge-on-read")
    t.delete_where("id = '6'", mode="merge-on-read")
    t.delete_where("id = '7'", mode="merge-on-read")
    t.delete_where("id = '8'", mode="merge-on-read")
    assert len(t.current_snapshot()["delete_dirs"]) == 5
    before = {(r.id, r.v) for r in t.read().collect()}
    res = t.maintain(max_pos_delete_dirs=4)
    assert res is not None and res["action"] == "rewrite_position_deletes"
    assert len(res["commit"]["delete_dirs"]) == 1
    assert {(r.id, r.v) for r in t.read().collect()} == before

    # fragmentation + fresh eq deletes together -> compact ONLY (it
    # materializes the deletes; convert would be subsumed work)
    for i in range(20, 30):
        t.append(df_of(spark, [(str(i), f"v{i}")]))
    t.delete_by_key(spark.createDataFrame([("20",)] , ["id"]))
    assert t.current_snapshot()["eq_delete_dirs"]
    before = {(r.id, r.v) for r in t.read().collect()}
    res = t.maintain(max_data_dirs=8, max_eq_delete_files=0)
    assert res is not None and res["action"] == "compact"
    cur = t.current_snapshot()
    assert cur["eq_delete_dirs"] == [] and cur["delete_dirs"] == []
    assert len(cur["data_dirs"]) == 1
    assert {(r.id, r.v) for r in t.read().collect()} == before
    assert t.maintain(max_eq_delete_files=0, max_pos_delete_dirs=0) is None


def test_convert_equality_deletes_to_positional(spark, catalog):
    """The delete-lifecycle middle step: convert_equality_deletes
    materializes the eq-hidden rows as one positional delete file —
    read results byte-identical before/after, scoping preserved (the
    later re-insert of a deleted key stays alive), eq entries gone,
    time travel intact."""
    t = catalog.table("EQCONV")
    t.append(df_of(spark, [("1", "a"), ("2", "b"), ("3", "c")]))
    t.delete_by_key(spark.createDataFrame([("2",), ("9",)], ["id"]))
    t.append(df_of(spark, [("2", "b2")]))  # post-delete re-insert: survives
    before = {(r.id, r.v) for r in t.read().collect()}
    assert before == {("1", "a"), ("3", "c"), ("2", "b2")}
    pre_convert = t.current_snapshot()

    snap = t.convert_equality_deletes()
    assert snap is not None and snap["eq_delete_dirs"] == []
    assert snap["delete_dirs"]  # positional file now carries the deletes
    assert {(r.id, r.v) for r in t.read().collect()} == before
    # idempotent: nothing left to convert
    assert t.convert_equality_deletes() is None
    # time travel to the eq-delete era still renders correctly
    assert {
        (r.id, r.v)
        for r in t.read(snapshot_id=pre_convert["snapshot_id"]).collect()
    } == before


def test_drop_column_converts_affected_equality_deletes(spark, catalog):
    """Dropping a column an active equality delete keys on would orphan
    the delete (reads exclude the column before the key join) —
    drop_column converts affected eq deletes to positional first, so
    the delete's effect survives the schema change."""
    t = catalog.table("EQDROP")
    t.append(df_of(spark, [("1", "a"), ("2", "b"), ("3", "c")]))
    t.delete_by_key(spark.createDataFrame([("2",)], ["id"]))
    t.drop_column("id")
    cur = t.current_snapshot()
    assert cur["eq_delete_dirs"] == [] and cur["delete_dirs"]
    # row 2 stays deleted, and the column is gone from reads
    rows = t.read().collect()
    assert {tuple(r) for r in rows} == {("a",), ("c",)}
    # an eq delete on an UNAFFECTED column is left as-is by drops of others
    t2 = catalog.table("EQDROP2")
    t2.append(
        spark.createDataFrame(
            [("1", "a", "x"), ("2", "b", "y")], ["id", "v", "w"]
        )
    )
    t2.delete_by_key(spark.createDataFrame([("2",)], ["id"]))
    t2.drop_column("w")
    assert t2.current_snapshot()["eq_delete_dirs"]  # untouched
    assert {tuple(r) for r in t2.read().collect()} == {("1", "a")}


def test_equality_delete_lifecycle_model_based(spark, catalog):
    """Model-based check of the delete lifecycle: a deterministic
    pseudo-random interleaving of append / delete_by_key /
    convert_equality_deletes / compact, mirrored against a Python
    reference model that implements the spec semantics directly (a
    delete kills CURRENTLY-live matching rows only; later re-inserts
    survive; convert and compact are read-invisible). Catches
    interaction bugs single-scenario tests can't."""
    import hashlib

    t = catalog.table("EQMODEL")
    model: list[tuple[str, str]] = []  # live (id, v) rows, insertion order
    t.append(df_of(spark, [("0", "seed")]))
    model.append(("0", "seed"))

    def rnd(i: int) -> int:
        return int(hashlib.md5(f"lifecycle-{i}".encode()).hexdigest()[:4], 16)

    next_row = 1
    for step in range(14):
        r = rnd(step) % 4
        if r == 0 or not model:  # append 2 rows (sometimes reusing a key)
            reuse = model[rnd(step * 7) % len(model)][0] if model else "0"
            rows = [(str(next_row), f"v{step}"), (reuse, f"re{step}")]
            next_row += 1
            t.append(df_of(spark, rows))
            model.extend(rows)
        elif r == 1:  # equality-delete one present and one absent key
            victim = model[rnd(step * 13) % len(model)][0]
            t.delete_by_key(
                spark.createDataFrame([(victim,), ("nope",)], ["id"])
            )
            model = [row for row in model if row[0] != victim]
        elif r == 2:
            t.convert_equality_deletes()
        else:
            t.compact()
        got = sorted((r.id, r.v) for r in t.read().collect())
        assert got == sorted(model), f"divergence at step {step} (op {r})"


def test_equality_delete_time_travel_after_key_rename(spark, catalog):
    """ADVICE r6 #1: an equality delete keyed on a column that is later
    RENAMED must still apply when time-travelling to a snapshot that
    carries it — the key columns resolve by field id against the schema
    the scan is RENDERED under (snapshot-time names for explicit travel,
    live names for current reads), not unconditionally the live one."""
    t = catalog.table("EQDEL_RENAME")
    t.append(df_of(spark, [("1", "a"), ("2", "b"), ("3", "c")]))
    sdel = t.delete_by_key(spark.createDataFrame([("2",)], ["id"]))
    t.rename_column("id", "uid")

    # current read renders live names: key join on uid
    assert {r.uid for r in t.read().collect()} == {"1", "3"}
    # explicit time travel to the delete-carrying snapshot renders the
    # snapshot-time schema (column still named id) — the eq delete must
    # join on THAT name, not the live one
    old = t.read(snapshot_id=sdel["snapshot_id"])
    assert "id" in old.columns and "uid" not in old.columns
    assert {r.id for r in old.collect()} == {"1", "3"}
    # tag-based travel takes the same snapshot-schema path
    t.create_tag("pre-rename", sdel["snapshot_id"])
    assert {r.id for r in t.read(ref="pre-rename").collect()} == {"1", "3"}


def test_drop_column_locked_recheck_converts_racing_eq_delete(spark, catalog):
    """ADVICE r6 #2: a delete_by_key keyed on the dropped column that
    lands BETWEEN drop_column's unlocked pre-check and its schema commit
    must not strand an active equality delete — the re-check under the
    commit lock detects it, converts, and retries."""
    t = catalog.table("DROP_RACE")
    t.append(df_of(spark, [("1", "a"), ("2", "b"), ("3", "c")]))

    orig_acquire = t._acquire_commit_lock
    state = {"injected": False}

    def hooked():
        if not state["injected"]:
            state["injected"] = True
            # the racing writer: eq delete keyed on the column being
            # dropped, committed while drop_column is between its clean
            # pre-check and taking the lock
            t.delete_by_key(spark.createDataFrame([("b",)], ["v"]), ["v"])
        return orig_acquire()

    t._acquire_commit_lock = hooked
    try:
        t.drop_column("v")
    finally:
        t._acquire_commit_lock = orig_acquire

    assert state["injected"], "race was not exercised"
    cur = t.current_snapshot()
    # no active equality delete keyed on the dropped column survives
    assert cur["eq_delete_dirs"] == []
    # the racing delete's EFFECT is preserved (converted to positional)
    assert {r.id for r in t.read().collect()} == {"1", "3"}
    assert t.read().columns == ["id"]


def test_delete_by_key_cas_retry_leaves_no_orphan_key_dirs(spark, catalog):
    """ADVICE r6 #5: the key parquet is written once before the CAS
    loop — a lost race re-reads the head and recomputes metadata only,
    and a terminal failure cleans the dir up."""
    import os

    from icebergproject_spark.lakehouse.tableformat import CommitConflictError

    t = catalog.table("EQDEL_CAS")
    t.append(df_of(spark, [("1", "a"), ("2", "b")]))
    base_dirs = set(os.listdir(t.eq_deletes_root))

    orig_commit = t._commit
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflictError("injected conflict")
        return orig_commit(*a, **kw)

    t._commit = flaky
    try:
        t.delete_by_key(spark.createDataFrame([("2",)], ["id"]))
    finally:
        t._commit = orig_commit
    assert calls["n"] == 2  # one lost race + one success
    after = set(os.listdir(t.eq_deletes_root)) - base_dirs
    # exactly ONE new dir: the committed key file — no orphan per retry
    assert len(after) == 1
    assert {r.id for r in t.read().collect()} == {"1"}

    # terminal failure: the pre-written dir is cleaned up, not orphaned
    def always_conflict(*a, **kw):
        raise CommitConflictError("permanent")

    t._commit = always_conflict
    try:
        with pytest.raises(CommitConflictError):
            t.delete_by_key(spark.createDataFrame([("1",)], ["id"]))
    finally:
        t._commit = orig_commit
    assert set(os.listdir(t.eq_deletes_root)) - base_dirs == after


def test_delete_by_key_rejects_column_missing_from_live_schema(spark, catalog):
    """ADVICE r7 (tableformat.py:1956): the reverse drop_column race —
    if the key column was dropped before delete_by_key's commit attempt,
    the attempt must raise (never commit field_ids=[None]) and the
    pre-written key dir must be cleaned up, so later reads survive."""
    import os

    t = catalog.table("EQDEL_DROPRACE")
    t.append(df_of(spark, [("1", "a"), ("2", "b")]))
    base_dirs = set(os.listdir(t.eq_deletes_root))
    t.drop_column("v")  # simulates the concurrent drop committing first
    with pytest.raises(ValueError, match="not in the current schema"):
        t.delete_by_key(spark.createDataFrame([("x",)], ["v"]))
    # no stranded key dir, and the table still reads fine
    assert set(os.listdir(t.eq_deletes_root)) == base_dirs
    assert {r.id for r in t.read().collect()} == {"1", "2"}
    # a key on a LIVE column still works after the rejected attempt
    t.delete_by_key(spark.createDataFrame([("2",)], ["id"]))
    assert {r.id for r in t.read().collect()} == {"1"}


# --- Iceberg v2 CDC upsert (equality delete + data file, one commit) ------


def test_upsert_by_key_one_atomic_commit_no_scan(spark, catalog):
    """upsert_by_key commits ONE snapshot carrying an equality delete on
    the keys plus the applied rows: matched rows update, new keys
    insert, unmatched rows survive, the old data dirs are untouched
    (write cost O(updates), no rewrite), and last-writer-wins applies
    within the batch."""
    t = catalog.table("UPSERT")
    t.append(df_of(spark, [("1", "a"), ("2", "b"), ("3", "c")]))
    before = t.current_snapshot()
    n_snaps = len(t.history())

    snap = t.upsert_by_key(
        df_of(spark, [("2", "b2"), ("4", "d"), ("2", "b3")]), ["id"]
    )
    assert len(t.history()) == n_snaps + 1  # atomic: exactly one commit
    got = {(r.id, r.v) for r in t.read().collect()}
    # (2,b3): last writer inside the batch wins, like merge()
    assert got == {("1", "a"), ("2", "b3"), ("3", "c"), ("4", "d")}
    # the prior data dirs were NOT rewritten — the new snapshot appends
    # one dir and one equality-delete entry scoped to the old dirs
    assert set(before["data_dirs"]) < set(snap["data_dirs"])
    entry = snap["eq_delete_dirs"][-1]
    assert entry["cols"] == ["id"]
    assert set(entry["applies_to_dirs"]) == set(before["data_dirs"])
    # the applied rows (same commit) are out of the delete's scope
    new_dirs = set(snap["data_dirs"]) - set(before["data_dirs"])
    assert not new_dirs & set(entry["applies_to_dirs"])
    # maintenance folds the debt: compaction drops the eq-delete entry
    t.compact()
    assert t.current_snapshot().get("eq_delete_dirs", []) == []
    assert {(r.id, r.v) for r in t.read().collect()} == got


def test_upsert_by_key_empty_table_batch_id_and_partition_layout(
    spark, tmp_path
):
    """On an empty table the upsert degenerates to an append; batch_id
    stamps the commit for exactly-once foreachBatch replay; and on a
    mod-bucketed table the applied rows land under their NEW partition
    value (so later pruned reads see post-upsert truth)."""
    from icebergproject_spark.lakehouse.tableformat import LakehouseTable

    t = LakehouseTable(spark, str(tmp_path), "db", "bkt")
    t.set_partitioning("cluster_id", "mod4")
    rows = spark.createDataFrame(
        [(i, i % 8) for i in range(16)], "node long, cluster_id long"
    )
    t.upsert_by_key(rows, ["node"], batch_id="b0")  # empty → append
    assert t.has_batch("b0")
    assert t.read().count() == 16
    # move nodes 0..3 into cluster 99 (bucket 3)
    ups = spark.createDataFrame(
        [(i, 99) for i in range(4)], "node long, cluster_id long"
    )
    t.upsert_by_key(ups, ["node"], batch_id="b1")
    assert t.has_batch("b1") and t.read().count() == 16
    moved = t.read(partition_values=[3]).where("cluster_id = 99")
    assert {r.node for r in moved.collect()} == {0, 1, 2, 3}
    # the old versions are hidden in their old buckets too
    assert (
        t.read(partition_values=[0, 1, 2]).where("node < 4").count() == 0
    )


def test_parametric_partition_transforms(spark, tmp_path):
    """mod<N> and bucket<N> resolve for any N; unknown names and N<2
    are rejected; modN pruning lists only the wanted directories
    (PartitionFilters at planning time)."""
    from icebergproject_spark.lakehouse.tableformat import (
        LakehouseTable,
        _transform_fn,
    )

    with pytest.raises(ValueError):
        _transform_fn("mod1")
    with pytest.raises(ValueError):
        _transform_fn("zigzag7")
    t = LakehouseTable(spark, str(tmp_path), "db", "m5")
    t.set_partitioning("k", "mod5")
    t.append(spark.createDataFrame([(i,) for i in range(20)], "k long"))
    pruned = t.read(partition_values=[2])
    assert sorted(r.k for r in pruned.collect()) == [2, 7, 12, 17]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # bucket<N>: xxhash64-based, any width
    t2 = LakehouseTable(spark, str(tmp_path), "db", "b32")
    t2.set_partitioning("k", "bucket32")
    t2.append(spark.createDataFrame([(i,) for i in range(20)], "k long"))
    assert t2.read().count() == 20


def test_partition_values_type_gate_falls_back_not_drops(spark, tmp_path):
    """ADVICE r12: the O(touched) listing fast path matched directories
    via str(v), but Python's rendering can disagree with Spark's
    partition-dir rendering (float 5.0 vs an int column's '__p=5';
    bool True vs 'true') — the isdir probe would miss a REAL partition
    and silently drop rows the slow path returns.  Non-int/str values
    must fall back to full discovery + residual filter: slower, never
    wrong."""
    from icebergproject_spark.lakehouse.tableformat import LakehouseTable

    t = LakehouseTable(spark, str(tmp_path), "db", "typegate")
    t.set_partitioning("k", "mod7")
    t.append(spark.createDataFrame([(i,) for i in range(21)], "k long"))
    want = sorted(r.k for r in t.read(partition_values=[5]).collect())
    assert want == [5, 12, 19]
    # float 5.0: str() renders '5.0', no '__p=5.0' dir exists — the
    # pre-fix fast path returned ZERO rows here
    got = sorted(r.k for r in t.read(partition_values=[5.0]).collect())
    assert got == want
    # bool True: str() renders 'True' vs Spark's 'true' dir name — the
    # pre-fix fast path silently returned zero rows; post-fix it falls
    # to the residual filter, where Spark 4's strict isin type check
    # rejects BOOLEAN-vs-INT loudly (an error, never a silent drop)
    with pytest.raises(Exception, match="DATATYPE_MISMATCH|IN"):
        t.read(partition_values=[True]).collect()


def test_upsert_by_key_emptied_table_race_reclaims_eq_dir(spark, tmp_path):
    """ADVICE r12: when the table is emptied between upsert_by_key's
    head check and its CAS attempt, the commit degrades to a plain
    append that never references the already-written equality-delete
    dir — it must be reclaimed on the SUCCESSFUL commit, not only on
    exceptions."""
    import os

    from icebergproject_spark.lakehouse.tableformat import LakehouseTable

    t = LakehouseTable(spark, str(tmp_path), "db", "race")
    t.append(df_of(spark, [("1", "a")]))
    real = t.current_snapshot
    calls = {"n": 0}

    def flaky():
        # call 1: the top-of-method emptiness check (real head);
        # call 2+: inside _retry_cas — simulate a concurrent truncation
        calls["n"] += 1
        return real() if calls["n"] == 1 else None

    t.current_snapshot = flaky
    try:
        snap = t.upsert_by_key(df_of(spark, [("2", "b")]), ["id"])
    finally:
        t.current_snapshot = real
    assert snap["operation"] == "append"
    assert snap.get("eq_delete_dirs", []) == []
    # the pre-written eq-delete key dir was reclaimed, not orphaned
    assert os.listdir(t.eq_deletes_root) == []


def test_maybe_fold_eq_debt_trigger_and_equivalence(spark, catalog):
    """maybe_fold_eq_debt (VERDICT r12 ask #6): a no-op at or under the
    threshold, converts ALL accumulated equality deletes to one
    positional file past it — read results byte-identical, data files
    untouched."""
    t = catalog.table("FOLD")
    t.append(df_of(spark, [(str(i), "v") for i in range(12)]))
    for i in range(4):
        t.upsert_by_key(df_of(spark, [(str(i), f"u{i}")]), ["id"])
    assert t.maybe_fold_eq_debt(max_eq_delete_files=4) is None  # at == no
    assert len(t.current_snapshot()["eq_delete_dirs"]) == 4
    before = {(r.id, r.v) for r in t.read().collect()}
    t.upsert_by_key(df_of(spark, [("4", "u4")]), ["id"])
    snap = t.maybe_fold_eq_debt(max_eq_delete_files=4)
    assert snap is not None
    cur = t.current_snapshot()
    assert cur.get("eq_delete_dirs", []) == []  # folded...
    assert cur.get("delete_dirs")  # ...into a positional file
    after = {(r.id, r.v) for r in t.read().collect()}
    assert after == (before - {("4", "v")}) | {("4", "u4")}


@pytest.mark.parametrize("partitioned", [False, True])
def test_equality_delete_multi_file_debt_model_based(spark, catalog, partitioned):
    """Ten equality-delete files from upsert_by_key and delete_by_key,
    checked against a Python model of the spec semantics (a delete or
    upsert hides every row live at its commit whose key matches,
    null-safe; rows committed later survive).  The debt carries
    overlapping keys across files, a key deleted and then re-upserted,
    a null key, a two-column key set next to one-column sets, and a key
    column renamed between two deletes (so the same resolved key names
    come from two stored names).  read(), read(where=...),
    read_via_manifests(), time travel to a mid-debt snapshot and the
    positional rows convert_equality_deletes() writes all match."""
    from collections import Counter

    t = catalog.table("EQDEBT_PART" if partitioned else "EQDEBT")
    if partitioned:
        t.set_partitioning("sub", "identity")
    pos_of = {"pk": 0, "id": 0, "sub": 1}
    types = {"pk": "long", "id": "long", "sub": "string", "v": "string"}
    names = ["pk", "sub", "v"]
    seed = [(i, "ab"[i % 2], "s") for i in range(12)] + [(None, "a", "s")]
    t.append(spark.createDataFrame(seed, "pk long, sub string, v string"))
    live = list(seed)  # the model: rows a read must return
    written = list(seed)  # every row ever committed

    def schema(cols):
        return ", ".join(f"{c} {types[c]}" for c in cols)

    def kill(keys, key):
        nonlocal live
        keyset = {tuple(k) for k in keys}
        live = [
            r for r in live
            if tuple(r[pos_of[k]] for k in key) not in keyset
        ]

    def upsert(rows, key):
        t.upsert_by_key(spark.createDataFrame(rows, schema(names)), key)
        # last writer wins inside the batch
        applied = {tuple(r[pos_of[k]] for k in key): r for r in rows}
        kill(applied, key)
        live.extend(applied.values())
        written.extend(applied.values())

    def delete(keys, key):
        t.delete_by_key(spark.createDataFrame(keys, schema(key)))
        kill(keys, key)

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    def check(df, pred=lambda r: True):
        assert rows(df) == sorted(repr(r) for r in live if pred(r))

    steps = [
        lambda: upsert([(1, "b", "u1"), (2, "a", "u1"), (3, "b", "u1")], ["pk"]),
        # overlaps file 1 on keys 2 and 3; last writer wins for key 4
        lambda: upsert(
            [(2, "a", "u2"), (3, "b", "u2"), (4, "a", "u2"), (4, "a", "u2b")],
            ["pk"],
        ),
        lambda: delete([(6,), (99,)], ["pk"]),
        # key 6 re-upserted after its delete: the delete must not hide it
        lambda: upsert([(6, "a", "re6")], ["pk"]),
        lambda: delete([(None,)], ["pk"]),  # a null key matches null
        # a two-column key set next to the one-column set; (8, b)
        # matches nothing (row 8 is in sub a)
        lambda: delete([(7, "b"), (8, "b"), (3, "b")], ["pk", "sub"]),
        lambda: upsert([(3, "a", "u7"), (8, "b", "u7")], ["pk"]),
    ]
    for step in steps:
        step()
        check(t.read())
    mid = t.current_snapshot()["snapshot_id"]
    mid_rows = sorted(repr(r) for r in live)

    t.rename_column("pk", "id")
    names = ["id", "sub", "v"]
    steps = [
        lambda: delete([(2,), (5,)], ["id"]),
        lambda: upsert(
            [(5, "b", "u9"), (1, "b", "u9"), (None, "b", "unull")], ["id"]
        ),
        lambda: upsert([(1, "b", "u10"), (9, "a", "u10")], ["id", "sub"]),
    ]
    for step in steps:
        step()
        check(t.read())

    entries = t.current_snapshot()["eq_delete_dirs"]
    assert len(entries) == 10
    assert {tuple(e["cols"]) for e in entries} == {
        ("pk",), ("pk", "sub"), ("id",), ("id", "sub"),
    }
    for k in (1, 2, 3, 6, 9, 42):
        check(t.read(where=f"id = {k}"), lambda r, k=k: r[0] == k)
    check(t.read(where="id IS NULL"), lambda r: r[0] is None)
    check(t.read_via_manifests())
    if partitioned:
        check(t.read(partition_values=["b"]), lambda r: r[1] == "b")
    # time travel to the pre-rename, mid-debt snapshot renders its own
    # column names and applies only the deletes it carried
    old = t.read(snapshot_id=mid)
    assert "pk" in old.columns and "id" not in old.columns
    assert rows(old) == mid_rows

    # the fold writes exactly the addresses of the rows the model hid
    base = t.read(with_address=True, apply_eq_deletes=False)
    snap = t.convert_equality_deletes()
    assert snap["eq_delete_dirs"] == []
    pos = spark.read.parquet(*snap["delete_dirs"])
    assert pos.count() == pos.select("__file", "__pos").distinct().count()
    hidden = base.join(pos, ["__file", "__pos"], "left_semi").drop(
        "__file", "__pos"
    )
    assert Counter(rows(hidden)) == (
        Counter(map(repr, written)) - Counter(map(repr, live))
    )
    check(t.read())
    check(t.read(where="id = 3"), lambda r: r[0] == 3)
    assert rows(t.read(snapshot_id=mid)) == mid_rows


def test_equality_delete_key_files_disagreeing_on_type(spark, catalog):
    """Key files of one column set are read in one scan; when they
    disagree on the key's type (an int key file next to a long one) the
    scan falls back to one read per dir, unioned, and every delete still
    applies — to reads and to the fold."""
    t = catalog.table("EQTYPES")
    t.append(spark.createDataFrame([(i, "v") for i in range(6)], "pk long, v string"))
    t.delete_by_key(spark.createDataFrame([(1,)], "pk int"))
    t.delete_by_key(spark.createDataFrame([(2,), (4,)], "pk long"))
    assert sorted(r.pk for r in t.read().collect()) == [0, 3, 5]
    t.convert_equality_deletes()
    assert sorted(r.pk for r in t.read().collect()) == [0, 3, 5]


def test_equality_delete_job_count_independent_of_debt(spark, catalog):
    """The Spark job count of a read and of the fold does not grow with
    the number of equality-delete files: each equality-column set costs
    one key scan, one aggregation and one join.  Jobs are counted with
    the public job-group API (count_jobs), so this is a count, not a
    wall-clock check."""
    from icebergproject_spark.session import count_jobs

    def jobs_at(debt: int) -> tuple[int, int]:
        t = catalog.table(f"EQJOBS{debt}")
        t.append(df_of(spark, [(str(i), "v") for i in range(40)]))
        for i in range(debt):
            t.upsert_by_key(
                df_of(spark, [(str((i * 7 + j) % 40), f"u{i}") for j in range(5)]),
                ["id"],
            )
        assert len(t.current_snapshot()["eq_delete_dirs"]) == debt
        n, read_jobs = count_jobs(spark, lambda: t.read().count())
        assert n == 40
        _, fold_jobs = count_jobs(spark, t.convert_equality_deletes)
        assert t.current_snapshot()["eq_delete_dirs"] == []
        return read_jobs, fold_jobs

    assert jobs_at(2) == jobs_at(16)


def _deletes_table(spark, catalog, name):
    """Two data dirs, one positional-delete dir, one equality-delete file."""
    t = catalog.table(name)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(20)], "pk long, v string"))
    t.append(spark.createDataFrame([(i, f"w{i}") for i in range(20, 30)], "pk long, v string"))
    t.delete_where("pk = 3", mode="merge-on-read")
    t.delete_by_key(spark.createDataFrame([(5,)], "pk long"))
    return t


def test_read_plan_runs_no_job(spark, catalog):
    """Building a read runs no Spark job: every scan takes its schema
    from table metadata (data dirs: the types ``_sync_schema``
    recorded; positional deletes: their constant schema; equality
    deletes: the types their entry records).  A lookup on a table with
    one positional-delete dir and one equality-delete file then runs 4
    jobs; inferring the three schemas cost 3 more."""
    from icebergproject_spark.session import count_jobs

    def plan_jobs(build) -> int:
        return count_jobs(spark, build)[1]

    plain = catalog.table("PLANJOBS")
    plain.append(df_of(spark, [(str(i), "a") for i in range(10)]))
    first = plain.current_snapshot()["snapshot_id"]
    plain.append(df_of(spark, [(str(i), "b") for i in range(10, 15)]))
    assert plan_jobs(plain.read) == 0
    assert plan_jobs(lambda: plain.read(snapshot_id=first)) == 0

    part = catalog.table("PLANJOBS_PART")
    part.set_partitioning("d", "identity")
    part.append(spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(9)], "pk long, d string"
    ))
    assert plan_jobs(lambda: part.read(partition_values=["d1"])) == 0
    assert part.read(partition_values=["d1"]).count() == 3

    dels = _deletes_table(spark, catalog, "PLANJOBS_DELS")
    assert plan_jobs(dels.read) == 0
    assert plan_jobs(lambda: dels.read(where="pk = 7")) == 0
    rows, jobs = count_jobs(spark, lambda: dels.read(where="pk = 7").collect())
    assert [r.pk for r in rows] == [7]
    assert jobs == 4


def test_second_load_table_runs_no_job(spark, sf_dir, tmp_path):
    """The first ``load_table`` of a file version infers its schema with
    one Spark job; a second load of the same version passes that schema
    and runs none."""
    import shutil

    from icebergproject_spark.session import count_jobs
    from icebergproject_spark.tables import load_table

    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path)
    first, jobs1 = count_jobs(spark, lambda: load_table(spark, "orders", str(tmp_path)))
    second, jobs2 = count_jobs(spark, lambda: load_table(spark, "orders", str(tmp_path)))
    assert (jobs1, jobs2) == (1, 0)
    assert second.schema == first.schema
    assert second.count() == first.count()


def _strip_recorded_types(t) -> None:
    """Rewrite ``t``'s metadata in the format written before column
    types were recorded: no ``dir-types``, no equality-entry ``types``."""
    import json

    st = t._load_schema_state()
    st.pop("dir-types", None)
    t._save_schema_state(st)
    for fn in os.listdir(t.snap_dir):
        path = os.path.join(t.snap_dir, fn)
        if not (fn.startswith("snap-") and fn.endswith(".json")):
            continue
        with open(path) as f:
            snap = json.load(f)
        for e in snap.get("eq_delete_dirs", []):
            e.pop("types", None)
        with open(path, "w") as f:
            json.dump(snap, f)


def _shape_plain(spark, t):
    t.append(spark.createDataFrame(
        [(i, f"v{i}", [i, None], 1.5 * i) for i in range(12)],
        "pk long, v string, arr array<int>, x double",
    ))
    t.append(spark.createDataFrame([(i, f"w{i}", [], 0.0) for i in range(12, 16)],
                                   "pk long, v string, arr array<int>, x double"))


def _shape_partitioned(transform):
    def build(spark, t):
        t.set_partitioning("d" if transform in ("identity", "day") else "pk", transform)
        rows = [(i, f"2024-01-0{1 + i % 3}", f"v{i}") for i in range(12)]
        schema = "pk long, d string, v string"
        if transform == "day":
            t.append(spark.createDataFrame(rows, schema).selectExpr(
                "pk", "cast(d as timestamp) as d", "v"
            ))
        else:
            t.append(spark.createDataFrame(rows, schema))
            t.append(spark.createDataFrame([(20, "2024-01-02", "x")], schema))
    return build


def _shape_added_column(spark, t):
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string"))
    t.append(spark.createDataFrame([(3, "c", 3.5)], "pk long, v string, extra double"))


def _shape_rename(spark, t):
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string"))
    t.rename_column("v", "label")
    t.append(spark.createDataFrame([(3, "c")], "pk long, label string"))


def _shape_drop(spark, t):
    t.append(spark.createDataFrame([(1, "a", 10)], "pk long, v string, n int"))
    t.drop_column("n")
    t.append(spark.createDataFrame([(2, "b")], "pk long, v string"))


def _shape_widening(spark, t):
    t.append(spark.createDataFrame([(1, 10), (2, 20)], "pk long, n int"))
    t.append(spark.createDataFrame([(3, 1 << 40)], "pk long, n long"))


def _shape_key_types(spark, t):
    t.append(spark.createDataFrame([(i, "v") for i in range(8)], "pk long, v string"))
    t.delete_by_key(spark.createDataFrame([(1,)], "pk int"))
    t.delete_by_key(spark.createDataFrame([(2,), (4,)], "pk long"))
    t.delete_where("pk = 6", mode="merge-on-read")


@pytest.mark.parametrize("shape", [
    _shape_plain,
    _shape_partitioned("identity"),
    _shape_partitioned("day"),
    _shape_partitioned("bucket4"),
    _shape_added_column,
    _shape_rename,
    _shape_drop,
    _shape_widening,
    _shape_key_types,
], ids=["plain", "identity", "day", "bucket", "added_column", "rename",
        "drop", "widening", "key_types"])
def test_recorded_schema_matches_inference(spark, catalog, shape):
    """``read()`` built from the recorded types gives the schema (field-id
    metadata included) and the rows of the inference path, which a
    table whose recorded types are deleted takes — the format written
    before types were recorded, which must still read.  A write after
    the strip leaves a table mixing both kinds of dirs; it reads too."""
    t = catalog.table("PARITY")
    shape(spark, t)

    def rendered():
        out = {}
        for key, df in [("read", t.read()), ("manifests", t.read_via_manifests())]:
            rows = sorted(repr(tuple(r)) for r in df.collect())
            out[key] = (df.schema, rows)
        return out

    from icebergproject_spark.session import count_jobs

    recorded = rendered()
    assert count_jobs(spark, t.read)[1] == 0
    _strip_recorded_types(t)
    assert count_jobs(spark, t.read)[1] > 0  # the inference path
    assert rendered() == recorded
    if t._partition_spec() is None:
        more = t.read().limit(1)
        t.append(more)
        mixed = t.read()
        assert mixed.schema == recorded["read"][0]
        assert mixed.count() == len(recorded["read"][1]) + 1


def test_mod_partition_replay_formula_matches_duckdb(spark, tmp_path):
    """The mod<N> docs promise the sign-exact DuckDB replay
    ``((k % N) + N) % N`` (pmod vs DuckDB's signed ``%``) — execute
    BOTH forms in DuckDB against a negative-key table and pin that the
    documented form reproduces the pruned read exactly while plain
    ``k % N`` desyncs (ADVICE r12 #4, made executable)."""
    import duckdb

    from icebergproject_spark.lakehouse.tableformat import LakehouseCatalog

    t = LakehouseCatalog(spark, warehouse=str(tmp_path), db="db").table("NEG")
    t.set_partitioning("id", "mod16")
    keys = [-21, -16, -5, -1, 0, 3, 11, 27]
    t.append(spark.createDataFrame([(k,) for k in keys], "id long"))

    pruned = sorted(r.id for r in t.read(partition_values=[11]).collect())
    assert pruned == [-21, -5, 11, 27]  # pmod(-21)=pmod(-5)=11

    con = duckdb.connect()
    con.execute("CREATE TABLE keys AS SELECT * FROM (VALUES "
                + ",".join(f"({k})" for k in keys) + ") v(id)")
    documented = sorted(
        r[0] for r in con.execute(
            "SELECT id FROM keys WHERE ((id % 16) + 16) % 16 = 11"
        ).fetchall()
    )
    assert documented == pruned  # the documented replay is exact
    naive = sorted(
        r[0] for r in con.execute(
            "SELECT id FROM keys WHERE id % 16 = 11"
        ).fetchall()
    )
    assert naive != pruned  # plain % silently desyncs on negatives
    con.close()


def test_concurrent_upserts_by_key_disjoint_keys_all_land(spark, catalog):
    """Commit concurrency on the O(payload) upsert path: 6 threads
    upsert DISJOINT keys in parallel.  CAS + bounded retry must land
    every upsert — each key shows its thread's value, untouched keys
    keep the seed value, one linear mainline, and the eq-delete
    sequence scoping holds under retries (no upsert's data file is
    hidden by a racing upsert's equality delete)."""
    from concurrent.futures import ThreadPoolExecutor

    t = catalog.table("UPCONC")
    t.append(df_of(spark, [(str(i), "seed") for i in range(8)]))

    def worker(w: int):
        return t.upsert_by_key(df_of(spark, [(str(w), f"w{w}")]), ["id"])

    with ThreadPoolExecutor(max_workers=6) as ex:
        snaps = list(ex.map(worker, range(6)))

    assert len({s["snapshot_id"] for s in snaps}) == 6
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {
        str(i): (f"w{i}" if i < 6 else "seed") for i in range(8)
    }
    chain = t._mainline()
    for prev, nxt in zip(chain, chain[1:]):
        assert nxt["parent_id"] == prev["snapshot_id"]


def test_concurrent_upserts_same_key_serialize_to_one_winner(spark, catalog):
    """Two upserts racing on the SAME key: CAS serializes them — the
    table ends with exactly ONE row for the key holding the LAST
    committer's value (mainline order), never a duplicate and never a
    value from neither."""
    from concurrent.futures import ThreadPoolExecutor

    import pyspark.sql.functions as F

    t = catalog.table("UPSAME")
    t.append(df_of(spark, [("k", "seed"), ("other", "x")]))

    def worker(tag: str):
        return t.upsert_by_key(df_of(spark, [("k", tag)]), ["id"])

    with ThreadPoolExecutor(max_workers=2) as ex:
        snaps = list(ex.map(worker, ["a", "b"]))

    rows = t.read().filter(F.col("id") == "k").collect()
    assert len(rows) == 1
    # the mainline's LAST upsert is the winner — map snapshot order to tag
    order = {s["snapshot_id"]: tag for s, tag in zip(snaps, ["a", "b"])}
    last = t._mainline()[-1]["snapshot_id"]
    assert rows[0].v == order[last]
    assert {r.v for r in t.read().filter(F.col("id") == "other").collect()} == {"x"}


# --- dir-level Bloom filters: point-lookup data skipping -------------------


def test_bloom_skipping_point_lookup_min_max_blind(spark, catalog):
    """set_bloom_filters: keys INTERLEAVED across directories (every
    dir's min/max spans the full range — bounds prune NOTHING) must
    still plan a point lookup down to the single directory holding the
    key, via the dir blooms; the read returns exactly the row."""
    t = catalog.table("BLOOMED")
    t.set_bloom_filters(["id"], num_bits=1 << 14)
    n_dirs, per_dir = 5, 40
    for j in range(n_dirs):
        t.append(df_of(
            spark, [(f"k{i:04d}", f"d{j}") for i in range(j, n_dirs * per_dir, n_dirs)]
        ))
    dirs = t.current_snapshot()["data_dirs"]
    assert len(dirs) == n_dirs
    # min/max bounds are blind here: every dir may-match on bounds alone
    conj = [("id", "=", "k0042")]  # 42 % 5 == 2 → lives in dir j=2 only
    kept = [d for d in dirs if t._dir_may_match(d, conj)]
    assert len(kept) == 1
    got = t.read(where="id = 'k0042'").collect()
    assert [(r.id, r.v) for r in got] == [("k0042", "d2")]
    # absent key: every dir provably empty, read still correct (and the
    # schema-preserving [:1] fallback keeps the plan valid)
    assert all(
        not t._dir_may_match(d, [("id", "=", "nope")]) for d in dirs
    )
    assert t.read(where="id = 'nope'").count() == 0


def test_bloom_never_drops_rows_and_composes_with_history(spark, catalog):
    """Bloom pruning is an accelerator, never a filter: every present
    key must come back for EVERY dir layout — including directories
    written BEFORE set_bloom_filters (no bloom → kept), int-typed key
    columns, and upsert_by_key churn on top."""
    import pyspark.sql.functions as F

    t = catalog.table("BLOOMSAFE")
    t.append(spark.createDataFrame([(i, "old") for i in range(10)], "k long, v string"))
    t.set_bloom_filters(["k"], num_bits=1 << 13, num_hashes=5)
    t.append(spark.createDataFrame([(i, "new") for i in range(10, 20)], "k long, v string"))
    t.upsert_by_key(
        spark.createDataFrame([(3, "upd"), (17, "upd")], "k long, v string"), ["k"]
    )
    full = {(r.k, r.v) for r in t.read().collect()}
    for key in range(-2, 22):
        got = {(r.k, r.v) for r in t.read(where=f"k = {key}").collect()}
        want = {(k, v) for k, v in full if k == key}
        assert got == want, key


def test_bloom_props_and_partitioning_compose(spark, catalog):
    """set_bloom_filters before set_partitioning (and vice versa) must
    preserve BOTH properties, and the bloomed read must compose with
    hidden-partition dirs."""
    t = catalog.table("BLOOMPART")
    t.set_bloom_filters(["id"], num_bits=1 << 12)
    t.set_partitioning("id", "bucket16")
    assert t._bloom_config()["columns"] == ["id"]
    assert t._partition_spec()["transform"] == "bucket16"
    t.append(df_of(spark, [(str(i), "a") for i in range(30)]))
    t.append(df_of(spark, [(str(i), "b") for i in range(30, 60)]))
    dirs = t.current_snapshot()["data_dirs"]
    kept = [d for d in dirs if t._dir_may_match(d, [("id", "=", "7")])]
    assert len(kept) == 1
    assert {r.v for r in t.read(where="id = '7'").collect()} == {"a"}


def test_in_list_pruning_bounds_blooms_and_parser(spark, tmp_path):
    """``col IN (...)`` conjuncts prune like Iceberg's in() predicate:
    against min/max bounds (any member inside the range?) and against
    dir blooms (any member possibly present?) — the batch dim-lookup
    shape.  Parser: OR still disables everything, malformed IN and
    function calls are ignored (never guessed), grouped pure-AND terms
    no longer disable the parsable rest."""
    from icebergproject_spark.lakehouse.tableformat import _parse_conjuncts

    assert _parse_conjuncts("id IN ('a', 'b') AND v = 1") == [
        ("id", "in", ("a", "b")), ("v", "=", 1),
    ]
    assert _parse_conjuncts("id IN (1, 2, 3)") == [("id", "in", (1, 2, 3))]
    assert _parse_conjuncts("id IN ('a') OR v = 1") == []
    assert _parse_conjuncts("id IN (SELECT x FROM t)") == []
    assert _parse_conjuncts("lower(id) = 'a' AND v = 3") == [("v", "=", 3)]

    t = LakehouseCatalog(spark, warehouse=str(tmp_path), db="db").table("IN1")
    t.set_bloom_filters(["id"])
    n_dirs = 4
    for j in range(n_dirs):
        t.append(spark.createDataFrame(
            [(f"k{i:03d}", j) for i in range(j, 40, n_dirs)], "id string, j int"
        ))
    dirs = t.current_snapshot()["data_dirs"]
    # members living in dirs j=1 (k001) and j=3 (k007): exactly 2 kept
    conj = _parse_conjuncts("id IN ('k001', 'k007')")
    assert sum(t._dir_may_match(d, conj) for d in dirs) == 2
    got = {(r.id, r.j) for r in t.read(where="id IN ('k001', 'k007')").collect()}
    assert got == {("k001", 1), ("k007", 3)}
    # all members absent: every dir provably empty, result still sound
    conj0 = _parse_conjuncts("id IN ('zz1', 'zz2')")
    assert not any(t._dir_may_match(d, conj0) for d in dirs)
    assert t.read(where="id IN ('zz1', 'zz2')").count() == 0

    # min/max arm (disjoint int ranges, no blooms)
    t2 = LakehouseCatalog(spark, warehouse=str(tmp_path), db="db").table("IN2")
    for lo in (0, 100, 200):
        t2.append(spark.createDataFrame(
            [(lo + i,) for i in range(100)], "id long"
        ))
    dirs2 = t2.current_snapshot()["data_dirs"]
    conj2 = _parse_conjuncts("id IN (5, 7)")
    assert sum(t2._dir_may_match(d, conj2) for d in dirs2) == 1
    assert {r.id for r in t2.read(where="id IN (5, 7)").collect()} == {5, 7}
    conj3 = _parse_conjuncts("id IN (305, 412)")
    assert not any(t2._dir_may_match(d, conj3) for d in dirs2)


def test_compaction_rebuilds_blooms(spark, tmp_path):
    """compact() routes through _write_data, so the rewritten dir gets
    a FRESH bloom covering all surviving keys — point-lookup pruning
    keeps working across maintenance."""
    import os

    t = LakehouseCatalog(spark, warehouse=str(tmp_path), db="db").table("CB")
    t.set_bloom_filters(["id"])
    for j in range(3):
        t.append(spark.createDataFrame(
            [(f"k{j}{i}", j) for i in range(20)], "id string, j int"
        ))
    t.compact(target_partitions=1)
    dirs = t.current_snapshot()["data_dirs"]
    assert len(dirs) == 1
    assert os.path.exists(os.path.join(dirs[0], "_blooms.json"))
    assert t._dir_may_match(dirs[0], [("id", "=", "k215")])
    assert not t._dir_may_match(dirs[0], [("id", "=", "nope")])
    assert t.read(where="id = 'k215'").count() == 1
