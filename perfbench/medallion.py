"""``medallion_stream``: the reference's own job.

A backlog of browse-log envelope files is drained by one ``availableNow``
stream (``sources.kafka_json_source``, one file per micro-batch). Each
micro-batch runs ODS → DWD → DIM upsert (with the batch's CDC records) →
DWS → DM and commits every layer to a ``LakehouseCatalog``; after every
``MAINTAIN_EVERY`` batches the offline maintenance job compacts one
appended table and expires its snapshots (each table in turn). A batch
is timed from the start of ``foreachBatch`` to the DM commit.

Set-up bootstraps the dims, then staged CDC files bring the product dim's
equality-delete debt to the package's fold threshold (the
``fold_eq_debt`` default of ``upsert_dims``), as a long-running stream
reaches it every few dozen batches. So the DIM upsert of the first
measured batch passes the threshold and folds the debt, in every run.
There is no separate warm-up: the staged upserts warm the DIM layer, and
the first batch, like the first batch of any stream, starts cold.

A batch takes seconds and the fold batch several times more, so a window
of a few seconds would hold a varying number of them. The window is
therefore extended to at least ``MIN_BATCHES`` batches, the fold batch
and an ordinary one, so every run measures the same mix.

Each batch file spans one day of event time, and the DWS table is
day-partitioned with a bloom filter on ``user_id``. After the stream,
the analyst side reads the same tables (``serving.Reads``): point
lookups on the folded dim, day scans, the registry heads over a star
schema, and time travel to older dim snapshots. It is timed apart from
the batches.
"""

from __future__ import annotations

import functools
import inspect
import os
import time

import pyspark.sql.functions as F

from perfbench import gen
from perfbench.common import FileLedger, tree_bytes

DIM_CONFIG = [
    {
        "tbl_name": "pc_product",
        "tbl_db": "lakehousedb",
        "pk_col": "product_id",
        "cols": "product_id,category_id,product_name,gmt_create",
        "sink_tbl_name": "DIM_PRODUCT_INFO",
    },
    {
        "tbl_name": "pc_product_category",
        "tbl_db": "lakehousedb",
        "pk_col": "id",
        "cols": "id,p_id,name",
        "sink_tbl_name": "DIM_PRODUCT_CATEGORY",
    },
]
APPEND_TABLES = ["ODS_BROWSELOG", "DWD_BROWSELOG", "DWS_BROWSE_INFO", "DM_PRODUCT_VISIT"]
DIM_TABLES = [c["sink_tbl_name"] for c in DIM_CONFIG]
FOLD_AT = 0  # the measured batch whose DIM upsert folds the debt
MIN_BATCHES = 2  # measured batches per run, at least; their counts are exact counters
MAINTAIN_EVERY = 2  # batches between two maintenance steps


class StopStream(Exception):
    """Raised inside foreachBatch once the measuring window is over."""


def fold_threshold() -> int:
    """Equality-delete files a dim may carry before ``upsert_dims`` folds
    them: the default of its ``fold_eq_debt`` argument."""
    from icebergproject_spark.plans.dim import upsert_dims

    return inspect.signature(upsert_dims).parameters["fold_eq_debt"].default


def spec_for(seconds: float) -> gen.MedallionSpec:
    # enough backlog that the stream is still busy when the window ends
    # (the fold batch alone takes as long as about three ordinary ones);
    # each staged file and each batch add one file of debt, and the fold
    # fires once the debt exceeds the threshold
    return gen.MedallionSpec(
        batches=max(MIN_BATCHES + 3, int(seconds) + 1),
        staged_batches=fold_threshold() - FOLD_AT,
        batch_span_ms=86_400_000,
    )


def read_cdc(spark, path: str):
    from icebergproject_spark.sources import CDC_ENVELOPE_SCHEMA

    return spark.read.schema(CDC_ENVELOPE_SCHEMA).json(path)


def upsert(spark, catalog, path: str) -> dict:
    """The DIM layer on one CDC file, as the stream calls it."""
    from icebergproject_spark.plans.dim import upsert_dims

    return upsert_dims(catalog, read_cdc(spark, path), DIM_CONFIG, write_mode="upsert")


def process_batch(spark, catalog, tracer, batch, cdc_path: str) -> dict:
    """One micro-batch through every layer; returns layer row counts."""
    from icebergproject_spark.plans.dm import dm_product_visit
    from icebergproject_spark.plans.dwd import cleanse_browselog
    from icebergproject_spark.plans.dws import browse_wide
    from icebergproject_spark.plans.ods import ods_browselog

    rows = {}

    def added(snap) -> int:
        return snap["summary"]["added-records"]

    with tracer.span("ods"):
        ods = ods_browselog(batch)
        rows["ods"] = added(catalog.table("ODS_BROWSELOG").append(ods))
    with tracer.span("dwd"):
        dwd = cleanse_browselog(ods)
        rows["dwd"] = added(catalog.table("DWD_BROWSELOG").append(dwd))
    with tracer.span("dim"):
        rows["dim"] = sum(upsert(spark, catalog, cdc_path).values())
    product_info = catalog.table("DIM_PRODUCT_INFO").read()
    category = catalog.table("DIM_PRODUCT_CATEGORY").read()
    with tracer.span("dws"):
        wide = browse_wide(dwd, product_info, category)
        rows["dws"] = added(catalog.table("DWS_BROWSE_INFO").append(wide))
    with tracer.span("dm"):
        wide_t = browse_wide(dwd, product_info, category, keep_full_time=True)
        dm = dm_product_visit(wide_t.withColumn("event_ts", F.to_timestamp("log_time")))
        rows["dm"] = added(catalog.table("DM_PRODUCT_VISIT").append(dm))
    return rows


def maintain(catalog, tracer, name: str) -> None:
    """The offline maintenance job on one table: compact, then expire."""
    with tracer.span("lakehouse.compact"):
        catalog.table(name).compact()
    with tracer.span("lakehouse.expire"):
        catalog.table(name).expire_snapshots(retain_last=2)


class Medallion:
    name = "medallion_stream"

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.spec = spec_for(seconds)
        self.warehouse = os.path.join(work, "wh")
        self.ledger = FileLedger()
        self.batch_ms: list[float] = []
        self.batch_stats: list[dict] = []
        self.dim_snaps: dict[str, int] = {}  # after the last batch
        self.product_snaps: list[int] = []  # product dim snapshot after each batch
        self.fold_ms: list[float] = []
        self.check_count = 0

    # -- set-up ---------------------------------------------------------
    def generate(self, root: str) -> None:
        from perfbench.serving import lookup_keys

        self.inputs = gen.write_medallion(root, self.seed, self.spec)
        self.sf_dir = os.path.join(root, "sf")
        gen.write_star(self.sf_dir, self.seed, gen.StarSpec())
        self.keys = lookup_keys(self.seed, self.spec)

    def stage(self) -> None:
        """Bootstrap the dims, then the staged debt: the ``upsert_by_key``
        call of ``upsert_dims``, one equality-delete file each, without its
        per-call bookkeeping. Then the registry heads' answers."""
        from icebergproject_spark.lakehouse.tableformat import LakehouseCatalog
        from icebergproject_spark.plans.dim import extract_map_payload, filter_upsert_ops
        from perfbench.serving import Reads

        cat = self.catalog = LakehouseCatalog(self.spark, warehouse=self.warehouse, db="icebergdb")
        dws = cat.table("DWS_BROWSE_INFO")
        dws.set_partitioning("log_time", "identity")  # log_time is the day
        dws.set_bloom_filters(["user_id"])
        upsert(self.spark, cat, self.inputs.bootstrap_path)
        self.bootstrap_snap = cat.table("DIM_PRODUCT_INFO").current_snapshot()["snapshot_id"]
        cfg = DIM_CONFIG[0]
        cols = [c.strip() for c in cfg["cols"].split(",")]
        for path in self.inputs.staged_cdc_files:
            live = filter_upsert_ops(read_cdc(self.spark, path), "type").filter(
                F.col("table") == cfg["tbl_name"]
            )
            cat.table(cfg["sink_tbl_name"]).upsert_by_key(
                extract_map_payload(live, "data", {c: c for c in cols}), [cfg["pk_col"]]
            )
        self.dim_state()
        self.reads = Reads(self.spark, cat, self.sf_dir, self.keys, self.tracer)
        self.reads.answer_heads()

    # -- measured run ---------------------------------------------------
    def run(self, seconds: float) -> None:
        from icebergproject_spark.sources import LOG_ENVELOPE_SCHEMA, kafka_json_source

        spark, inp, tracer = self.spark, self.inputs, self.tracer
        self.ledger.scan(self.warehouse)
        self.commits_before = self.commits()
        stream = kafka_json_source(
            spark, LOG_ENVELOPE_SCHEMA, path=inp.log_dir,
            max_files_per_trigger=1,
        )
        clock = {}

        def sink(batch, batch_id):
            now = time.time()
            clock.setdefault("start", now)
            if now >= clock["start"] + seconds and batch_id >= MIN_BATCHES:
                raise StopStream("measuring window over")
            t0 = time.perf_counter()
            with tracer.span("batch", req=f"batch-{batch_id}"):
                rows = process_batch(spark, self.catalog, tracer, batch, inp.cdc_files[batch_id])
            self.batch_ms.append((time.perf_counter() - t0) * 1000.0)
            rows.update(self.dim_state())
            files, nbytes = self.ledger.scan(self.warehouse)
            if (batch_id + 1) % MAINTAIN_EVERY == 0:
                step = batch_id // MAINTAIN_EVERY
                with tracer.span("lakehouse.maintain"):
                    maintain(self.catalog, tracer, APPEND_TABLES[step % len(APPEND_TABLES)])
            rfiles, rbytes = self.ledger.scan(self.warehouse)
            self.batch_stats.append(
                {**rows, "files": files, "bytes": nbytes,
                 "rewritten_files": rfiles, "rewritten_bytes": rbytes}
            )
            clock["end"] = time.time()

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception as e:  # noqa: BLE001 - the deliberate stop, or a real failure
            if "measuring window over" not in str(e):
                raise
        n = len(self.batch_ms)
        self.trigger_ms = [
            p["durationMs"].get("triggerExecution", 0)
            for p in q.recentProgress if p.get("batchId", n) < n
        ]
        q.stop()
        self.elapsed_s = clock["end"] - clock["start"]
        self.read_tables(seconds)

    def read_tables(self, seconds: float) -> None:
        """The analyst side, over the tables as the stream left them."""
        from perfbench.serving import dim_rows

        inp, done = self.inputs, len(self.batch_ms)
        self.reads.expect(
            dim_rows(gen.expected_dim(inp, done)),
            [
                (self.bootstrap_snap, dim_rows(gen.replay_dim([inp.bootstrap_path]))),
                (self.product_snaps[FOLD_AT], dim_rows(gen.expected_dim(inp, FOLD_AT + 1))),
            ],
            inp.log_files[:done],
        )
        self.reads.run(seconds)

    def dim_state(self) -> dict:
        """After a batch: the equality-delete debt the dims carry, and the
        fold, when the batch's upsert folded the debt. The fold is found
        from outside, as a new ``convert_equality_deletes`` commit, and
        timed as its commit time minus its parent's (the upsert commit it
        follows inside ``upsert_dims``)."""
        prev = self.dim_snaps
        st = {"eq_delete_files": 0, "folds": 0, "pos_deletes_written": 0}
        snaps = {}
        for name in DIM_TABLES:
            table = self.catalog.table(name)
            cur = table.current_snapshot()
            snaps[name] = cur["snapshot_id"]
            if name == "DIM_PRODUCT_INFO":
                self.product_snaps.append(cur["snapshot_id"])
            st["eq_delete_files"] += len(cur.get("eq_delete_dirs", []))
            if cur["operation"] == "convert_equality_deletes" and prev.get(name) != snaps[name]:
                parent = next(s for s in table.history() if s["snapshot_id"] == cur["parent_id"])
                st["folds"] += 1
                # the fold writes the address of every row hidden so far
                st["pos_deletes_written"] += cur["summary"]["total-position-deletes"]
                self.fold_ms.append(cur["timestamp_ms"] - parent["timestamp_ms"])
        self.dim_snaps = snaps
        return st

    # -- checks -----------------------------------------------------------
    def check(self) -> list[str]:
        """ODS and DWD equal a one-shot batch run of the same plan functions
        over the processed files. DWS and DM equal the plan functions run
        against each batch's rows and the dims as last-write-wins says they
        were after that batch's upsert. Each dim, read at its final
        snapshot, equals last-write-wins with one visible row per key. And
        the debt was folded in batch ``FOLD_AT``, and only there."""
        from pyspark.sql import DataFrame

        from icebergproject_spark.plans.dm import dm_product_visit
        from icebergproject_spark.plans.dwd import cleanse_browselog
        from icebergproject_spark.plans.dws import browse_wide
        from icebergproject_spark.plans.ods import ods_browselog
        from icebergproject_spark.sources import LOG_ENVELOPE_SCHEMA
        from icebergproject_spark.sources.envelopes import decode_json_frames
        from perfbench.common import same_content

        spark, cat = self.spark, self.catalog
        files = self.inputs.log_files[: len(self.batch_ms)]
        product, category = DIM_CONFIG
        pcols = [c.strip() for c in product["cols"].split(",")]
        ccols = [c.strip() for c in category["cols"].split(",")]

        def frame(rows, cols):
            return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))

        ods = ods_browselog(decode_json_frames(spark.read.text(files), LOG_ENVELOPE_SCHEMA))
        dwd = cleanse_browselog(ods)
        # every batch against its own dim state, in one plan: batch k's
        # product codes and product keys are prefixed with "k|"
        tagged = functools.reduce(DataFrame.unionByName, [
            cleanse_browselog(ods_browselog(
                decode_json_frames(spark.read.text(path), LOG_ENVELOPE_SCHEMA)
            )).withColumn("browse_product_code", F.concat_ws("|", F.lit(k), "browse_product_code"))
            for k, path in enumerate(files)
        ])
        truth = [gen.expected_dim(self.inputs, k + 1) for k in range(len(files))]
        pi = frame(
            [
                (f"{k}|{key}", *(d.get(c) for c in pcols[1:]))
                for k, t in enumerate(truth) for key, d in t[product["tbl_name"]].items()
            ],
            pcols,
        )
        cg = frame([tuple(d.get(c) for c in ccols) for d in truth[-1][category["tbl_name"]].values()], ccols)
        wide_t = browse_wide(tagged, pi, cg, keep_full_time=True)
        keys = ["current_dt", "window_start", "window_end", "first_cat", "second_cat", "product"]

        def dm_sum(df):
            return df.groupBy(*keys).agg(F.sum("product_cnt").alias("product_cnt"))

        fails = []
        checks = 0
        for name, want, got in [
            ("ODS_BROWSELOG", ods, cat.table("ODS_BROWSELOG").read()),
            ("DWD_BROWSELOG", dwd, cat.table("DWD_BROWSELOG").read()),
            ("DWS_BROWSE_INFO", browse_wide(tagged, pi, cg), cat.table("DWS_BROWSE_INFO").read()),
            ("DM_PRODUCT_VISIT",
             dm_sum(dm_product_visit(wide_t.withColumn("event_ts", F.to_timestamp("log_time")))),
             dm_sum(cat.table("DM_PRODUCT_VISIT").read())),
        ]:
            checks += 1
            if not same_content(want, got):
                fails.append(f"{name} differs from the plan functions run in batch mode")
        for cfg, cols in ((product, pcols), (category, ccols)):
            checks += 1
            name = cfg["sink_tbl_name"]
            want = {key: tuple(d.get(c) for c in cols) for key, d in truth[-1][cfg["tbl_name"]].items()}
            rows = cat.table(name).read().collect()
            got = {r[cfg["pk_col"]]: tuple(r[c] for c in cols) for r in rows}
            if len(rows) != len(got):
                fails.append(f"{name} shows a key twice")
            elif got != want:
                fails.append(f"{name} is not last-write-wins per key")
        checks += 1
        folded_at = [i for i, b in enumerate(self.batch_stats) if b["folds"]]
        if folded_at != [FOLD_AT]:
            fails.append(
                f"the equality-delete debt was folded in measured batches {folded_at}, "
                f"not in batch {FOLD_AT} alone"
            )
        self.check_count = checks
        return fails

    # -- metrics ----------------------------------------------------------
    def commits(self) -> int:
        """Commits so far over all tables: snapshot ids count up from 1 and
        are never reused, so a table's current id is its commit count."""
        snaps = [self.catalog.table(name).current_snapshot() for name in APPEND_TABLES + DIM_TABLES]
        return sum(snap["snapshot_id"] for snap in snaps if snap)

    def finish_counters(self) -> None:
        self.disk = tree_bytes(self.warehouse)
        self.commits_after = self.commits()

    def units(self) -> int:
        return sum(self.inputs.envelopes[: len(self.batch_ms)])

    def latencies(self) -> list[float]:
        return self.batch_ms

    def read_latencies(self) -> list[float]:
        return self.reads.cycle_ms

    def ops_attempted(self) -> int:
        return len(self.batch_ms) + len(self.reads.op_log)

    def ops_failed(self) -> int:
        return self.reads.failed()  # a failing batch stops the stream and the run

    def disk_bytes(self) -> int:
        return self.disk

    def input_bytes(self) -> int:
        """Envelope and CDC bytes the tables were built from."""
        done = len(self.batch_ms)
        inp = self.inputs
        return inp.setup_cdc_bytes + sum(inp.envelope_bytes[:done]) + sum(inp.cdc_bytes[:done])

    def exact_counters(self) -> dict:
        """Counts of the first ``MIN_BATCHES`` measured batches (every run
        completes them), which depend only on the seed."""
        out = {}
        for i, st in enumerate(self.batch_stats[:MIN_BATCHES]):
            for k, v in st.items():
                out[f"batch{i}.{k}"] = v
        return {**out, **self.reads.exact_counters()}

    def layer_metrics(self, layers: dict) -> dict:
        from perfbench.common import tail
        from perfbench.metrics import MEDALLION_LAYERS, per_call

        n = len(self.batch_ms)
        st = self.batch_stats
        v = {}
        for layer in MEDALLION_LAYERS:
            v[f"{layer}.ms"] = per_call(layers, layer, "self_ms", n)
            for f in ("stages", "tasks", "run_ms", "shuffle_bytes", "spill_bytes"):
                v[f"{layer}.{f}"] = per_call(layers, layer, f, n)
            v[f"{layer}.rows"] = sum(b[layer] for b in st) / n
        v["batch.tail_ms"], v["batch.tail_pct"], v["batch.samples"] = tail(self.batch_ms)
        envelopes = sum(self.inputs.envelopes[:n])
        v["sources.scans_per_batch"] = per_call(layers, "batch", "text_records_read", 1) / envelopes
        sink_ms = per_call(layers, "batch", "ms", 1) + per_call(layers, "lakehouse.maintain", "ms", 1)
        v["streaming.overhead_ms"] = (sum(self.trigger_ms) - sink_ms) / n
        v["dim.eq_delete_files"] = sum(b["eq_delete_files"] for b in st) / n
        upserted = sum(b["dim"] for b in st)
        # each upserted row is written twice (data + equality-delete key);
        # the fold writes the address of every hidden row so far
        v["dim.rows_rewritten_per_row"] = (
            sum(2 * b["dim"] + b["pos_deletes_written"] for b in st) / upserted
        )
        v["lakehouse.fold_ms"] = sum(self.fold_ms) / max(len(self.fold_ms), 1)
        v["lakehouse.commits"] = (self.commits_after - self.commits_before) / n
        v["lakehouse.files_written"] = sum(b["files"] + b["rewritten_files"] for b in st) / n
        v["lakehouse.bytes_written"] = sum(b["bytes"] + b["rewritten_bytes"] for b in st) / n
        v["lakehouse.compact_ms"] = per_call(layers, "lakehouse.compact", "ms", n)
        v["lakehouse.expire_ms"] = per_call(layers, "lakehouse.expire", "ms", n)
        v["lakehouse.bytes_rewritten"] = sum(b["rewritten_bytes"] for b in st) / n
        return {**v, **self.reads.layer_metrics(layers)}
