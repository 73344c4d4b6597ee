"""Structured Streaming wrappers (SURVEY §2.1 S1/S2, §2.2 K1–K7, §2.8).

The reference's jobs are continuous Flink pipelines over Kafka with 5 s
checkpoints (T1). Kafka is absent in this harness, so sources are file
streams over the same parquet (the transformations are source-agnostic —
swap ``file_stream_source`` for ``spark.readStream.format("kafka")`` +
``from_json`` on a real deployment; S1's options map 1:1 to
``startingOffsets`` etc.).

Key mappings:
  - T1 checkpoint 5 s       → ``trigger(processingTime='5 seconds')`` +
    ``option('checkpointLocation', ...)``; tests use availableNow.
  - K7 side-output fan-out  → ``foreachBatch`` writing one micro-batch to
    several sinks.
  - K3 dynamic per-record topic → a ``topic`` column on the Kafka sink
    (Spark's Kafka sink routes per record when no fixed topic is set).
  - T3/T4 window + watermark → ``withWatermark`` + ``window()`` (the
    reference has no watermarks — processing time only; event time is a
    deterministic superset, SURVEY §2.8 T4).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType


def file_stream_source(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: str | None = None,
) -> DataFrame:
    """S1/S2 stand-in: file source streaming DataFrame.

    Trigger pacing: ``max_files_per_trigger`` bounds micro-batches by
    FILE COUNT (deterministic replay in tests), ``max_bytes_per_trigger``
    by admitted BYTES (e.g. ``"128m"``) — the backpressure knob for
    uneven file sizes: a batch never admits a multi-GB backlog just
    because it is few files.  Kafka's equivalent is
    ``maxOffsetsPerTrigger``; both map to the reference's source-side
    rate limiting."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if max_bytes_per_trigger:
        reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
    return reader.load(path)


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    sink_fn,
    query_name: str = "pipeline",
    output_mode: str = "update",
) -> None:
    """Drain all available input through ``sink_fn(batch_df, batch_id)``
    (availableNow ≙ a bounded replay of the unbounded pipeline — the
    standard way to test streaming semantics deterministically).

    ``update`` output mode ≙ the reference's retract-stream consumption
    (ProcessUserPoints.scala:44): aggregates emit revised rows per batch
    instead of waiting for the watermark to close the window.
    """
    q = (
        df.writeStream.foreachBatch(sink_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()


def dbapi_batch_sink(
    connect,
    table: str,
    columns: list[str] | None = None,
    chunk_size: int = 1000,
    create_ddl: str | None = None,
):
    """K4/K5: relational batch sink for ``foreachBatch`` — the JDBC
    sink pattern (reference: utils/MyClickhouseUtil.scala:17-34, a
    per-batch ClickHouse INSERT loop; offlineanls/ProcessUserPoints.
    scala:52-58 for the MySQL variant).

    ``connect`` is a zero-arg factory returning a DB-API connection —
    called once PER MICRO-BATCH (the JDBC-pool-checkout shape; also what
    thread-bound drivers like sqlite3 require, since foreachBatch runs
    on a streaming thread).  Rows stream through ``toLocalIterator`` in
    ``chunk_size``-row ``executemany`` chunks with one commit per batch:
    at-least-once, like the reference (T2) — pair with an idempotent
    target (REPLACE/upsert DDL) for effectively-once.

    In-container stand-in note: ``df.write.jdbc`` needs a JDBC driver
    jar the environment lacks; this sink exercises the identical batch
    protocol through Python DB-API (sqlite3/DuckDB round-trip tested).
    On a cluster with driver jars, prefer ``df.write.jdbc(...,
    numPartitions=N)`` so inserts run executor-parallel; this helper is
    the semantic contract either path must satisfy.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        cols = columns or batch.columns
        proj = batch.select(*cols)
        conn = connect()
        try:
            cur = conn.cursor()
            if create_ddl:
                cur.execute(create_ddl)
            placeholders = ", ".join(["?"] * len(cols))
            stmt = f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({placeholders})"
            buf: list[tuple] = []
            for row in proj.toLocalIterator():
                buf.append(tuple(row))
                if len(buf) >= chunk_size:
                    cur.executemany(stmt, buf)
                    buf.clear()
            if buf:
                cur.executemany(stmt, buf)
            conn.commit()
        finally:
            conn.close()

    return sink


def foreach_batch_multi_sink(sinks: list) -> callable:
    """K7: one micro-batch → several sinks. ``sinks`` are callables
    ``(DataFrame) -> None``; the batch is persisted so each sink doesn't
    recompute the lineage (the reference's side outputs evaluate the
    operator once too)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for sink in sinks:
                sink(batch)
        finally:
            batch.unpersist()

    return handle


def windowed_count_stream(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    window_length: str = "10 seconds",
    watermark: str = "30 seconds",
    count_col: str = "product_cnt",
) -> DataFrame:
    """T3+T4: watermarked tumbling-window count for streaming A2.

    Late rows beyond the watermark are dropped — a documented superset of
    the reference's processing-time windows (which can't be late).
    """
    w = F.window(F.col(ts_col), window_length)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), *key_cols)
        .agg(F.count(F.lit(1)).alias(count_col))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("window_date"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            *key_cols,
            F.col(count_col),
        )
    )


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of a key seen within the
    watermark horizon (at-least-once upstream delivery → effectively-once
    downstream). State is bounded by the watermark — old keys age out, so
    memory is O(keys per horizon), not O(stream). The reference has no
    dedup stage (its Kafka producers are at-least-once, K2/T2); this closes
    that gap for exactly-once-style sinks."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def near_dup_filter_batch(
    batch: DataFrame,
    sig_table,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    batch_id: str | None = None,
) -> DataFrame:
    """One micro-batch of streaming near-dup ingestion (call from
    ``foreachBatch``): MinHash-band the batch, drop documents whose band
    signature collides with the persistent signature table OR with an
    earlier in-batch document, then append the surviving signatures.

    State is the lakehouse ``sig_table`` (band, band_sig, doc_id) — it
    outlives the stream, is shared across restarts without checkpoint
    surgery, and its growth is one row per (band, new doc), not per pair.
    Band keys are :func:`~icebergproject_spark.llm.dedup.banded_signatures`'
    ':'-joined strings, the same keys the batch dedup tier stores; a
    ``sig_table`` written with the older BIGINT keys raises
    (:func:`~icebergproject_spark.llm.dedup.require_string_band_sig`)
    instead of silently matching nothing.  The
    collision join is an equi-join on short band keys; at scale the
    signature table is bucketed by band_sig so the probe is co-located.
    Returns the batch rows that survived (new, non-duplicate documents).

    Retry safety: pass ``batch_id`` (``f"{query_id}-{epoch_id}"`` from
    foreachBatch).  A micro-batch replayed after the signature append
    succeeded but before the checkpoint commit would otherwise collide
    with its OWN persisted signatures and silently drop the whole batch;
    here (a) history matches against a different doc_id only, so a doc is
    never a duplicate of itself, and (b) the signature write goes through
    ``idempotent_append``, so the replay's append is a no-op.
    """
    from icebergproject_spark.llm.dedup import (
        banded_signatures,
        require_string_band_sig,
    )

    banded = banded_signatures(batch, content_col, id_col, 3, num_hashes, bands)
    try:
        seen = require_string_band_sig(sig_table.read()).select(
            "band", "band_sig", F.col("doc_id").alias("seen_doc_id")
        )
        hist_dup = (
            banded.join(seen, ["band", "band_sig"], "inner")
            .filter(F.col("seen_doc_id") != F.col("id"))
            .select("id")
            .distinct()
        )
    except FileNotFoundError:
        hist_dup = banded.select("id").filter(F.lit(False))
    # in-batch: keep the smallest id per colliding signature group
    w = Window.partitionBy("band", "band_sig")
    batch_dup = (
        banded.withColumn("keep", F.min("id").over(w))
        .filter(F.col("id") != F.col("keep"))
        .select("id")
        .distinct()
    )
    dups = hist_dup.union(batch_dup).distinct()
    survivors = batch.join(
        dups.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    surv_sigs = banded.join(
        dups, banded["id"] == dups["id"], "left_anti"
    ).select(F.col("id").alias("doc_id"), "band", "band_sig")
    if batch_id is not None:
        sig_table.idempotent_append(surv_sigs, batch_id)
    elif surv_sigs.take(1):
        sig_table.append(surv_sigs)
    return survivors


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 minute",
    within: str = "30 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a time bound: right rows match left
    rows at or after them, within ``within``. Both sides are watermarked so
    Spark can discard state past the horizon (unbounded joins never purge).
    Absent from the reference (SURVEY §2.4) — its enrichment is
    stream-static only; this is the general two-stream correlation
    (e.g. click ⋈ purchase attribution)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= F.expr(f"{left_ts} + interval {within}"))
    )
    return lw.join(rw, cond, how)


def rocksdb_state_conf(
    local_dir: str | None = None,
    changelog_checkpointing: bool = True,
) -> dict[str, str]:
    """Config block for the RocksDB state store provider — the setting
    that makes stateful streaming viable at 100 TB.

    The default HDFSBackedStateStoreProvider keeps EVERY key of every
    stateful operator on the executor HEAP: a dedup/sessionization state
    of a few hundred GB per executor is an OOM, not a tuning problem.
    RocksDB spills state to local SSD with bounded block-cache memory,
    and changelog checkpointing ships per-batch deltas instead of full
    SST snapshots (Spark 3.5+/4.x), collapsing checkpoint time on large
    state.  Apply via ``spark.conf.set`` per setting, or pass into the
    session builder — the provider is part of OSS Spark, no extra jar.
    """
    conf = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
            "true" if changelog_checkpointing else "false",
        # bound RocksDB native memory per executor (block cache + memtables
        # + filters) so state size can't eat the JVM overhead headroom
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    }
    if local_dir:
        conf["spark.sql.streaming.stateStore.rocksdb.localDir"] = local_dir
    return conf


def kafka_frames(
    df: DataFrame,
    value_cols: list[str],
    key_col: str | None = None,
    topic: str | None = None,
    topic_col: str | None = None,
    headers: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """K2/K3: shape a DataFrame into the EXACT record layout Spark's
    Kafka sink serializes onto the wire — ``key`` binary, ``value``
    binary (JSON envelope, field order = ``value_cols`` order), optional
    ``topic`` string (fixed via ``topic`` or per-record via
    ``topic_col`` — K3 dynamic routing), optional ``headers`` as
    ``array<struct<key string, value binary>>`` (each entry a
    (header-name, source-column) pair).

    This is the producer half of the wire contract
    (ods/ProduceKafkaDBDataToODS.scala:62-80 configures the topics; the
    reference's serializer writes the same JSON envelope).  No broker
    ships in this environment, so the contract is pinned by a GOLDEN
    BYTE test plus a consume-side decode round-trip
    (tests/test_streaming.py::test_kafka_wire_format_golden) — against a
    real cluster, handing this frame to
    ``writeStream.format("kafka")`` is a config change, not a code
    change.
    """
    cols = []
    if key_col is not None:
        cols.append(F.col(key_col).cast("string").cast("binary").alias("key"))
    cols.append(
        F.to_json(F.struct(*[F.col(c) for c in value_cols]))
        .cast("binary")
        .alias("value")
    )
    if topic_col is not None:
        cols.append(F.col(topic_col).cast("string").alias("topic"))
    elif topic is not None:
        cols.append(F.lit(topic).alias("topic"))
    if headers:
        cols.append(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("key"),
                        F.col(src).cast("string").cast("binary").alias("value"),
                    )
                    for name, src in headers
                ]
            ).alias("headers")
        )
    return df.select(*cols)


def dynamic_topic_routing(df: DataFrame, topic_col: str, payload_cols: list[str]) -> DataFrame:
    """K3: shape a stream for Spark's Kafka sink with per-record topics —
    (topic, value) columns; the sink honors the ``topic`` column when no
    fixed topic option is set (the reference reads ``kafka_dwd_topic``
    per record in its serializer, ProcessODSDataToDWD.scala:143-148)."""
    return df.select(
        F.col(topic_col).alias("topic"),
        F.to_json(F.struct(*[F.col(c) for c in payload_cols])).alias("value"),
    )


def wap_batch_sink(table, audit_fn, on_reject=None):
    """Write-audit-publish as a streaming sink: each micro-batch is
    STAGED on an anonymous lakehouse branch, audited against the
    would-be table state, and published to main only on approval —
    a rejected batch never reaches readers of main.

    The quality gate the reference's pipeline lacks entirely: its DWD
    cleanse (ProcessODSDataToDWD.scala:81-113) drops bad ROWS in-flight;
    this gates whole COMMITS (schema drift, volume anomalies, failed
    expectations — checks that need the batch in table context).

    ``audit_fn(staged_df) -> bool`` sees main + the staged batch;
    ``on_reject(batch_df, batch_id, staged_snapshot)`` (optional) routes
    rejected batches (e.g. to a quarantine table) — the staged branch is
    dropped either way, so retries of a rejected batch re-stage cleanly.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        published, snap = table.write_audit_publish(batch, audit_fn)
        if not published:
            try:
                if on_reject is not None:
                    on_reject(batch, batch_id, snap)
            finally:
                table.drop_branch(snap["branch"])

    return sink


def session_count_stream(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming sessionization via Spark's NATIVE ``session_window``
    (watermark-closed gap sessions) — the built-in counterpart to the
    custom ``stateful.sessionize_stream``: no Python state, windows merge
    in the JVM state store, sessions emit when the watermark passes the
    gap. Prefer this when the output is per-session aggregates; the
    stateful processor remains for semantics the built-in can't express
    (e.g. emit-on-close side effects, cross-session carryover).
    """
    w = F.session_window(F.col(ts_col), gap)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *key_cols,
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            F.col("n_events"),
        )
    )


def drain_table_feed(table, fn, from_snapshot_id: int | None = None) -> int | None:
    """Drive a consumer over a lakehouse table's append feed
    (:meth:`LakehouseTable.incremental_batches`): call
    ``fn(batch_df, snapshot_id)`` once per new snapshot — the
    foreachBatch signature, so the same sink functions work on Kafka
    streams and on table feeds — and return the new offset (the caller
    persists it; pairing with ``idempotent_append`` on the producing
    side makes the whole chain effectively-once).  Stages chained
    table→table this way replace the reference's Kafka-topic hops
    (ODS topic → DWD topic → ... , ProcessODSDataToDWD.scala:143-148)
    with snapshot-offset consumption."""
    last = from_snapshot_id
    for sid, _op, batch in table.incremental_batches(from_snapshot_id):
        fn(batch, sid)
        last = sid
    return last


def drift_monitor_batch(
    batch: DataFrame,
    state_table,
    value_col: str,
    group_cols: list[str],
    batch_id: str,
    z_milli: int = 3000,
    quant: int = 100,
) -> DataFrame:
    """One micro-batch of streaming distribution-drift monitoring (call
    from ``foreachBatch``): test the batch's per-group mean against the
    baseline accumulated from ALL PRIOR batches, then fold this batch's
    sufficient statistics into the lakehouse state exactly-once — the
    streaming face of the batch robust-stats tier (events_cusum /
    event_outliers_mad): ingestion-time alerting instead of
    retrospective scans.

    State is sufficient statistics, not raw data: per (group, batch)
    partial rows (n, Σx, Σx²) on the centi-quantized integer grid —
    exact BIGINTs, mergeable by addition, a few rows per batch per
    group forever (the count-min/HLL/HDR state-size story).  Baseline
    mean/variance derive from the aggregated partials at read time.

    Exactly-once under replay, both directions: the state write goes
    through ``idempotent_append`` keyed on ``batch_id`` (a replayed
    append is a no-op), and the baseline read EXCLUDES rows stamped
    with this ``batch_id`` — so a micro-batch retried after its append
    succeeded still tests against the same baseline and emits the
    identical alert rows.

    The alert is the standard large-sample z-test on the mean:
    drift ⟺ |mean_b − mean_h| > (z_milli/1000) · sqrt(var_h / n_b).
    Returns one row per group:
    (*group_cols, n_batch, mean_batch, mean_hist, z_score, drifted);
    empty-baseline groups (first batch) emit drifted = false with
    z_score NULL.
    """
    q = batch.withColumn(
        "__xq", F.expr(f"CAST(ROUND({value_col} * {quant}) AS BIGINT)")
    )
    partials = q.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__xq").alias("s"),
        F.sum(F.col("__xq") * F.col("__xq")).alias("s2"),
    ).withColumn("batch_id", F.lit(batch_id))
    try:
        hist = (
            state_table.read()
            .where(F.col("batch_id") != batch_id)
            .groupBy(*group_cols)
            .agg(
                F.sum("n").alias("N"),
                F.sum("s").alias("S"),
                F.sum("s2").alias("S2"),
            )
        )
    except FileNotFoundError:
        hist = None
    cur = partials.select(
        *group_cols,
        F.col("n").alias("n_batch"),
        (F.col("s").cast("double") / F.col("n")).alias("__mb"),
    )
    if hist is not None:
        joined = cur.join(hist, group_cols, "left").selectExpr(
            *group_cols,
            "n_batch",
            "__mb",
            "CASE WHEN N > 0 THEN CAST(S AS DOUBLE) / N END AS __mh",
            "CASE WHEN N > 0 THEN CAST(S2 AS DOUBLE) / N"
            " - (CAST(S AS DOUBLE) / N) * (CAST(S AS DOUBLE) / N)"
            " END AS __vh",
        )
    else:
        joined = cur.selectExpr(
            *group_cols, "n_batch", "__mb",
            "CAST(NULL AS DOUBLE) AS __mh", "CAST(NULL AS DOUBLE) AS __vh"
        )
    alerts = joined.selectExpr(
        *group_cols,
        "n_batch",
        f"ROUND(__mb / {quant}, 6) AS mean_batch",
        f"ROUND(__mh / {quant}, 6) AS mean_hist",
        "ROUND(CASE WHEN __vh > 0 THEN (__mb - __mh) / sqrt(__vh / n_batch) END, 3)"
        " AS z_score",
        f"COALESCE(ABS(__mb - __mh) > {z_milli} / 1000.0 * sqrt(__vh / n_batch),"
        " false) AS drifted",
    )
    # materialize alerts BEFORE the state append: foreachBatch callers
    # typically act on the return value after this call, and the append
    # below must not shift the baseline under a lazily-evaluated plan
    alerts = alerts.localCheckpoint(eager=True)
    state_table.idempotent_append(partials, batch_id=batch_id)
    return alerts


def ks_drift_monitor_batch(
    batch: DataFrame,
    state_table,
    value_col: str,
    group_cols: list[str],
    batch_id: str,
    d_milli: int = 150,
    quant: int = 100,
) -> DataFrame:
    """One micro-batch of streaming DISTRIBUTION-shift monitoring (call
    from ``foreachBatch``) — the KS-statistic sibling of
    :func:`drift_monitor_batch` (VERDICT r8 ask #6): the z-test arm
    catches mean shifts only; this one compares the batch's whole
    empirical CDF against the baseline accumulated from all prior
    batches with the exact two-sample Kolmogorov–Smirnov statistic, the
    streaming face of the batch ``events_ks_drift`` head
    (operators/aggregates.ks_drift — same centi-grid, same
    cross-multiplied integer D).

    State is a sufficient statistic, not raw data: per (group, grid
    value, batch) COUNT rows — a histogram on the ``round(x·quant)``
    integer grid, mergeable by addition, bounded by the grid support
    per batch per group (the HDR-histogram state-size story).  The
    baseline CDF derives from the aggregated prior counts at read time.

    Exactly-once under replay, both directions (the
    :func:`drift_monitor_batch` contract): the state write goes through
    ``idempotent_append`` keyed on ``batch_id`` (a replayed append is a
    no-op), and the baseline read EXCLUDES rows stamped with this
    ``batch_id`` — a micro-batch retried after its append succeeded
    still tests against the same baseline and emits identical alerts.

    The alert is an EFFECT-SIZE threshold, not an α-level: drift ⟺
    D > d_milli/1000, decided as the exact integer comparison
    ``1000·max|c1·n2 − c2·n1| > d_milli·n1·n2`` (no float, engine- and
    partitioning-independent; sound while ``1000·n1·n2`` < 2⁶³, i.e.
    n_batch·n_history < ~9.2e15 — size ``quant`` and compaction
    accordingly).  A fixed D threshold is the production posture for
    large-n monitors: at streaming volumes the classical α-critical
    value c(α)·√((n1+n2)/(n1·n2)) shrinks toward zero and every batch
    "significantly" drifts; what you page on is the magnitude.

    Returns one row per group with every metric as DATA:
    (*group_cols, n_batch, n_hist, ks_d_milli, drifted); empty-baseline
    groups (first batch) emit drifted = false with ks_d_milli NULL.
    """
    q = batch.withColumn(
        "__xq", F.expr(f"CAST(ROUND({value_col} * {quant}) AS BIGINT)")
    )
    partials = (
        q.groupBy(*group_cols, "__xq")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    try:
        hist = (
            state_table.read()
            .where(F.col("batch_id") != batch_id)
            .groupBy(*group_cols, "__xq")
            .agg(F.sum("n").alias("nh"))
        )
    except FileNotFoundError:
        hist = None
    cur = partials.select(*group_cols, "__xq", F.col("n").alias("nb"))
    if hist is not None:
        merged = cur.join(hist, [*group_cols, "__xq"], "full_outer").select(
            *group_cols,
            "__xq",
            F.coalesce("nb", F.lit(0)).alias("d1"),
            F.coalesce("nh", F.lit(0)).alias("d2"),
        )
    else:
        merged = cur.select(
            *group_cols,
            "__xq",
            F.col("nb").alias("d1"),
            F.lit(0).cast("long").alias("d2"),
        )
    w_tot = Window.partitionBy(*group_cols)
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__xq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = merged.select(
        *group_cols,
        F.sum("d1").over(w_tot).alias("n1"),
        F.sum("d2").over(w_tot).alias("n2"),
        F.sum("d1").over(w_cum).alias("c1"),
        F.sum("d2").over(w_cum).alias("c2"),
    )
    alerts = (
        scored.groupBy(*group_cols)
        .agg(
            F.max("n1").alias("n_batch"),
            F.max("n2").alias("n_hist"),
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            ).alias("__dnum"),
        )
        .select(
            *group_cols,
            F.col("n_batch").cast("long"),
            F.col("n_hist").cast("long"),
            F.expr(
                "CASE WHEN n_hist > 0 THEN CAST(1000 * __dnum DIV"
                " (n_batch * n_hist) AS BIGINT) END"
            ).alias("ks_d_milli"),
            F.expr(
                f"COALESCE(1000 * __dnum > {d_milli} * n_batch * n_hist,"
                " false)"
            ).alias("drifted"),
        )
    )
    # materialize alerts BEFORE the state append — same reasoning as
    # drift_monitor_batch: the append must not shift the baseline under
    # a lazily-evaluated plan
    alerts = alerts.localCheckpoint(eager=True)
    state_table.idempotent_append(partials, batch_id=batch_id)
    return alerts
