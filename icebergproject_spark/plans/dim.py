"""DIM layer — dimension upsert (SURVEY §2.2 K6, §2.8 T8).

Reference: ``dim/DimDataToHBase.scala`` consumes the dim Kafka topic and,
per record, creates the Phoenix table if absent (keyed-ValueState guard)
then UPSERTs — processing only CDC op types insert / update /
bootstrap-insert (DimDataToHBase.scala:67).

Spark-first: filter op types (T8), project the payload columns per the
routing config, then a set-oriented MERGE into the lakehouse dim table —
DDL and upsert happen once per micro-batch driver-side, never per record.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from icebergproject_spark.lakehouse.tableformat import LakehouseCatalog
from icebergproject_spark.operators.projections import extract_map_payload

UPSERT_OPS = ["insert", "update", "bootstrap-insert"]


def filter_upsert_ops(dim_records: DataFrame, op_col: str = "type") -> DataFrame:
    """T8: deletes are ignored (DimDataToHBase.scala:67)."""
    return dim_records.filter(F.col(op_col).isin(*UPSERT_OPS))


def upsert_dims(
    catalog: LakehouseCatalog,
    dim_records: DataFrame,
    config_rows: list[dict],
    op_col: str = "type",
    write_mode: str = "merge",
    fold_eq_debt: int | None = 16,
    bloom_keys: bool = True,
) -> dict[str, int]:
    """K6: for each configured dim table, MERGE its records.

    ``config_rows`` mirror dim_tbl_config_info (utils/MySQLUtil.scala:22):
    ``{tbl_name, tbl_db, pk_col, cols, sink_tbl_name}`` with ``cols`` a CSV
    of payload columns — the same metadata Phoenix DDL was generated from
    (DimDataToHBase.scala:79-93).

    ``write_mode``: ``"merge"`` (copy-on-write MERGE — reads and
    rewrites the dim table) or ``"upsert"``
    (:meth:`LakehouseTable.upsert_by_key` — one equality-delete + data
    file commit, O(batch) write cost regardless of dim size).  The
    upsert mode is the faithful COST shape of the reference's Phoenix
    sink (key-addressed upserts, never a table rewrite,
    dim/DimDataToHBase.scala:100-110); identical final state
    (pytest-pinned).  ``fold_eq_debt``: each upsert batch adds one
    equality-delete file, and every dim READ scans the accumulated key
    files and joins them once (one key scan, aggregation and join per
    key-column set, so the job count does not grow with the files;
    the key relation and the scope check do, SCALE.md); past the
    threshold the debt is folded via
    :meth:`LakehouseTable.maybe_fold_eq_debt` — None disables (leave
    folding to external `maintain`).

    ``bloom_keys``: declare a dir-level Bloom filter on each dim's
    primary key before its first write
    (:meth:`LakehouseTable.set_bloom_filters`), so key-addressed reads
    (``read(where="pk = <id>")``) skip every dir the key isn't in —
    the batch analogue of the reference's Phoenix/HBase per-key GET
    access path (dim/DimDataToHBase.scala keys every dim row by pk).
    ~2.6% write cost, measured (SCALE.md r13).

    Returns {sink_table: rows merged}.
    """
    if write_mode not in ("merge", "upsert"):
        raise ValueError("write_mode must be 'merge' or 'upsert'")
    live = filter_upsert_ops(dim_records, op_col)
    out: dict[str, int] = {}
    for cfg in config_rows:
        cols = [c.strip() for c in cfg["cols"].split(",")]
        recs = live.filter(F.col("table") == cfg["tbl_name"])
        payload = extract_map_payload(recs, "data", {c: c for c in cols})
        n = payload.count()
        if n == 0:
            continue
        tbl = catalog.table(cfg["sink_tbl_name"])
        if bloom_keys and tbl._bloom_config() is None:
            tbl.set_bloom_filters([cfg["pk_col"]])
        if write_mode == "upsert" and tbl.current_snapshot() is not None:
            tbl.upsert_by_key(payload, [cfg["pk_col"]])
            if fold_eq_debt is not None:
                tbl.maybe_fold_eq_debt(fold_eq_debt)
        else:
            tbl.merge(payload, [cfg["pk_col"]])
        out[cfg["sink_tbl_name"]] = n
    return out


def upsert_dims_with_deletes(
    catalog: LakehouseCatalog,
    dim_records: DataFrame,
    config_rows: list[dict],
    op_col: str = "type",
    seq_col: str | None = None,
) -> dict[str, dict[str, int]]:
    """K6/T8 extension BEYOND reference parity: honor the CDC deletes
    the reference drops (dim/DimDataToHBase.scala:67 only processes
    insert/update/bootstrap-insert).  Upserts MERGE exactly like
    :func:`upsert_dims`; ``tp=delete`` records become Iceberg v2
    EQUALITY-DELETE files keyed on the configured primary key
    (:meth:`LakehouseTable.delete_by_key`) — write cost O(deleted
    keys), no table scan, folded out by the next compaction.

    **Event order**: with ``seq_col`` (a per-record ordering column —
    Kafka offset, binlog position, event timestamp), each key keeps
    only its LAST event in the batch and is routed to merge OR delete
    accordingly, so a delete followed by a re-insert of the same key
    ends inserted — the source stream's final state.  The key window is
    partitioned per primary key (no global sort; scales).  Without
    ``seq_col`` there is no order to recover: all merges apply, then
    all deletes, so a mixed delete+reinsert batch for one key resolves
    to DELETED — pass ``seq_col`` when batches can mix ops per key.

    Returns {sink_table: {"merged": n, "deleted": n}}.
    """
    if seq_col is not None:
        from pyspark.sql.window import Window

        both = dim_records.filter(
            F.col(op_col).isin(*UPSERT_OPS, "delete")
        )
        out: dict[str, dict[str, int]] = {}
        for cfg in config_rows:
            cols = [c.strip() for c in cfg["cols"].split(",")]
            stats = {"merged": 0, "deleted": 0}
            recs = both.filter(F.col("table") == cfg["tbl_name"])
            # last event per pk wins; ties (same seq) break toward the
            # delete so replayed tombstones stay tombstones
            w = Window.partitionBy(
                F.col("data").getItem(cfg["pk_col"])
            ).orderBy(
                F.col(seq_col).desc(),
                (F.col(op_col) == "delete").desc(),
            )
            last = (
                recs.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            payload = extract_map_payload(
                last.filter(F.col(op_col).isin(*UPSERT_OPS)),
                "data",
                {c: c for c in cols},
            )
            n = payload.count()
            if n:
                catalog.table(cfg["sink_tbl_name"]).merge(
                    payload, [cfg["pk_col"]]
                )
                stats["merged"] = n
            keys = extract_map_payload(
                last.filter(F.col(op_col) == "delete"),
                "data",
                {cfg["pk_col"]: cfg["pk_col"]},
            ).dropDuplicates()
            nd = keys.count()
            if nd:
                catalog.table(cfg["sink_tbl_name"]).delete_by_key(
                    keys, [cfg["pk_col"]]
                )
                stats["deleted"] = nd
            if stats["merged"] or stats["deleted"]:
                out[cfg["sink_tbl_name"]] = stats
        return out
    live = filter_upsert_ops(dim_records, op_col)
    dels = dim_records.filter(F.col(op_col) == "delete")
    out: dict[str, dict[str, int]] = {}
    for cfg in config_rows:
        cols = [c.strip() for c in cfg["cols"].split(",")]
        stats = {"merged": 0, "deleted": 0}
        recs = live.filter(F.col("table") == cfg["tbl_name"])
        payload = extract_map_payload(recs, "data", {c: c for c in cols})
        n = payload.count()
        if n:
            catalog.table(cfg["sink_tbl_name"]).merge(payload, [cfg["pk_col"]])
            stats["merged"] = n
        drecs = dels.filter(F.col("table") == cfg["tbl_name"])
        keys = extract_map_payload(
            drecs, "data", {cfg["pk_col"]: cfg["pk_col"]}
        ).dropDuplicates()
        nd = keys.count()
        if nd:
            catalog.table(cfg["sink_tbl_name"]).delete_by_key(
                keys, [cfg["pk_col"]]
            )
            stats["deleted"] = nd
        if stats["merged"] or stats["deleted"]:
            out[cfg["sink_tbl_name"]] = stats
    return out
