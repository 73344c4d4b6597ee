"""Snapshot-based table format: Iceberg when available, parquet+manifest else.

The reference depends on five Iceberg capabilities (SURVEY §2.9):
  - streaming/batch append   (K1: INSERT INTO hadoop_iceberg.icebergdb.*)
  - upsert                   (K6: Phoenix UPSERT → our MERGE semantics)
  - small-file compaction    (M1: rewriteDataFiles,
                              offlineanls/CombinDataAndRemoveOldSnap.scala:32-41)
  - snapshot expiry          (M2: expireSnapshots().expireOlderThan,
                              offlineanls/CombinDataAndRemoveOldSnap.scala:44-53)
  - time travel              (M3: implied by Iceberg snapshots)

``LakehouseCatalog`` exposes those as one API. With the Iceberg runtime on
the classpath it delegates to Iceberg SQL (``writeTo().append()``,
``MERGE INTO``, ``CALL system.rewrite_data_files`` …). Without it — this
harness — it maintains the same semantics over plain parquet with JSON
snapshot manifests: every mutation writes a new immutable snapshot listing
its data directories, so history / time travel / expiry behave like Iceberg's.

Scale notes: metadata here is a flat JSON list of data *directories* (not
files) per snapshot — driver-side and O(snapshots). Data-plane operations
(append/merge/compact) are pure Spark jobs. MERGE is implemented as a
key-deduped full-outer join + snapshot overwrite — on a real cluster this is
exactly what Iceberg's copy-on-write MERGE does under the hood. DELETE and
UPDATE additionally support Iceberg v2 MERGE-ON-READ: positional delete
files addressed by (file, pos) via Spark's ``_metadata`` struct, subtracted
at read time by an anti-join, folded back by ``rewrite_position_deletes`` /
``compact`` — O(matched) write cost for hot-churn tables (CDC, GDPR).
"""

from __future__ import annotations

import base64
import json
import os
import re
import shutil
import time
import uuid

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from icebergproject_spark.lakehouse import xxh64 as _xxh
from icebergproject_spark.lakehouse.catalog import CATALOG_NAME, DEFAULT_WAREHOUSE, iceberg_available


#: simple comparison conjunct: ``col OP literal`` (the grammar min-max
#: pruning can reason about — same subset Iceberg evaluates against
#: manifest bounds; everything else is left to the row filter)
_PRED_RE = re.compile(
    r"^\s*(\w+)\s*(>=|<=|==|=|<|>)\s*('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$"
)

#: multi-key membership conjunct: ``col IN (lit, lit, ...)`` — the
#: batch dim-lookup shape; prunable against bounds (any member inside
#: the range?) and blooms (any member possibly present?)
_IN_RE = re.compile(
    r"^\s*(\w+)\s+IN\s*\(([^()]*)\)\s*$", re.IGNORECASE
)
_LIT_RE = re.compile(r"^\s*('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$")


def _parse_literal(lit: str) -> object:
    if lit.startswith("'"):
        return lit[1:-1]
    return float(lit) if "." in lit else int(lit)


def _parse_conjuncts(where: str) -> list[tuple[str, str, object]]:
    """Best-effort split of a WHERE string into prunable conjuncts.

    Sound by construction: with OR / NOT present, AND-splitting is not
    a valid decomposition → return [] (prune nothing). Otherwise each
    parsable ``col OP literal`` / ``col IN (literals)`` conjunct
    independently narrows the result, so pruning on any SUBSET of them
    is conservative — an unparsable conjunct (function calls, grouped
    terms, anything else) is simply ignored, never guessed at."""
    if re.search(r"\bOR\b|\bNOT\b", where, re.IGNORECASE):
        return []
    out: list[tuple[str, str, object]] = []
    for part in re.split(r"\bAND\b", where, flags=re.IGNORECASE):
        m = _PRED_RE.match(part)
        if m:
            col, op, lit = m.groups()
            out.append((col, op, _parse_literal(lit)))
            continue
        m = _IN_RE.match(part)
        if m:
            col, items = m.groups()
            lits = [_LIT_RE.match(i) for i in items.split(",")]
            if lits and all(lits):
                out.append(
                    (col, "in", tuple(_parse_literal(i.group(1)) for i in lits))
                )
    return out


#: hidden-partition transforms (Iceberg-style: the user never sees the
#: partition column; SURVEY §4 "partition ODS/DWD/DWS by date")
_TRANSFORMS = {
    "identity": lambda c: F.col(c),
    "day": lambda c: F.date_format(c, "yyyy-MM-dd"),
    "month": lambda c: F.date_format(c, "yyyy-MM"),
    "bucket16": lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(16)),
}

#: Iceberg's bucket[N] is parametric; so are these. ``bucket<N>`` hashes
#: (xxhash64, Spark-side) before the modulus — the general-purpose
#: choice; ``mod<N>`` buckets an integer column by plain modulus
#: (``F.pmod``: always non-negative), which a SQL oracle can replay
#: exactly — the choice when the partition-local decision itself must
#: be hash-checkable.  Replay caveat: DuckDB's ``%`` keeps the
#: dividend's sign, so the exact replay is ``((x % N) + N) % N``; plain
#: ``x % N`` matches only on a non-negative key domain (what every
#: registered oracle's fixture keys satisfy — negative ids in a
#: mod-partitioned table need the pmod-form replay or they desync
#: silently).
_PARAM_TRANSFORM = re.compile(r"(bucket|mod)(\d+)")

#: partition values whose directory-name rendering is escape-free
#: (read()'s O(touched)-listing fast path; anything else falls back to
#: full partition discovery + filter)
_SAFE_PARTITION_VALUE = re.compile(r"[A-Za-z0-9_.\-]+")


def _transform_fn(name: str):
    """Resolve a transform name (fixed table or parametric family) to a
    ``col_name -> Column`` function; raises ValueError on unknown names."""
    if name in _TRANSFORMS:
        return _TRANSFORMS[name]
    m = _PARAM_TRANSFORM.fullmatch(name)
    if m:
        n = int(m.group(2))
        if n < 2:
            raise ValueError(f"transform {name!r}: need at least 2 buckets")
        if m.group(1) == "bucket":
            return lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(n))
        return lambda c: F.pmod(F.col(c), F.lit(n))
    raise ValueError(
        f"transform must be one of {sorted(_TRANSFORMS)} or bucket<N>/mod<N>"
    )


def _bloom_set_bits(bits, hashes_int64, m_bits: int, k: int) -> None:
    """Set the Kirsch-Mitzenmacher double-hashing positions for a batch
    of 64-bit hashes into a bitset (shared by the distributed and the
    driver-side bloom builds — one arithmetic, one contract)."""
    import numpy as np

    h = np.asarray(hashes_int64, dtype=np.int64).view(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = h >> np.uint64(32)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        np.bitwise_or.at(
            bits,
            (pos >> np.uint64(3)).astype(np.int64),
            np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
        )


def _bloom_partial_fn(cols: list[str], m_bits: int, k: int):
    """``mapInPandas`` kernel for the dir-level Bloom build: ONE pass
    over the new directory hashes every bloomed column JVM-side
    (``xxhash64``), and each task emits one ``m_bits/8``-byte bitset
    per column — only bitsets cross to the driver (O(partitions × m/8),
    never O(rows)), which is what keeps the build scale-safe at 100 TB.
    Bit positions come from Kirsch-Mitzenmacher double hashing over the
    64-bit hash (h1 = low 32, h2 = high 32, pos_i = (h1 + i·h2) mod m);
    the read side replays the identical arithmetic in
    ``_bloom_contains``."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        acc = {c: np.zeros(m_bits // 8, dtype=np.uint8) for c in cols}
        for pdf in batches:
            if not len(pdf):
                continue
            for c in cols:
                _bloom_set_bits(acc[c], pdf["h_" + c], m_bits, k)
        yield pd.DataFrame(
            {"col": list(cols), "bits": [acc[c].tobytes() for c in cols]}
        )

    return fn


def _bloom_contains(bits: bytes, m_bits: int, k: int, h: int) -> bool:
    """Membership test against a serialized dir bloom — pure-Python
    replay of ``_bloom_partial_fn``'s double hashing (h1 + i·h2 stays
    under 2^35 for k ≤ 16, so int arithmetic matches numpy's uint64
    exactly; no wraparound on either side)."""
    hu = h & 0xFFFFFFFFFFFFFFFF
    h1, h2 = hu & 0xFFFFFFFF, hu >> 32
    for i in range(k):
        pos = (h1 + i * h2) % m_bits
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _struct(fields) -> StructType:
    """StructType of nullable ``(name, type JSON, metadata)`` fields —
    the shape of a file schema as Spark reads it back."""
    return StructType.fromJson({
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": m}
            for n, t, m in fields
        ],
    })


class CommitConflictError(RuntimeError):
    """A concurrent commit moved the branch head between the caller's
    read and its commit — the analogue of Iceberg's
    ``CommitFailedException``: the commit is NOT applied and the caller
    must re-read the new head and retry (recompute its changes on the
    new base)."""


class LakehouseTable:
    """One snapshot-versioned table under ``<warehouse>/<db>/<name>/``."""

    def __init__(self, spark: SparkSession, warehouse: str, db: str, name: str):
        self.spark = spark
        self.db = db
        self.name = name
        self.root = os.path.join(warehouse, db, name)
        self.snap_dir = os.path.join(self.root, "snapshots")
        self.data_dir = os.path.join(self.root, "data")
        self.deletes_root = os.path.join(self.root, "deletes")
        self.eq_deletes_root = os.path.join(self.root, "eq-deletes")
        self.props_path = os.path.join(self.root, "properties.json")
        self.refs_path = os.path.join(self.root, "refs.json")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.deletes_root, exist_ok=True)
        os.makedirs(self.eq_deletes_root, exist_ok=True)

    # -- partition spec ---------------------------------------------------
    def set_partitioning(self, column: str, transform: str = "day") -> None:
        """Declare hidden partitioning (before the first write): data files
        land under ``__p=<transform(column)>`` directories; readers filter
        on the SOURCE column terms via ``read(partition_values=...)`` and
        never see the partition column — Iceberg's hidden-partitioning
        contract, minus expression→partition rewriting (the caller passes
        the wanted partition values explicitly)."""
        _transform_fn(transform)  # validate (raises on unknown names)
        if self._snapshots():
            raise ValueError("cannot change partitioning after the first write")
        props = {}
        if os.path.exists(self.props_path):
            with open(self.props_path) as f:
                props = json.load(f)  # preserve blooms/other properties
        props["partition"] = {"column": column, "transform": transform}
        with open(self.props_path, "w") as f:
            json.dump(props, f)

    def set_bloom_filters(
        self,
        columns: list[str],
        num_bits: int = 1 << 20,
        num_hashes: int = 7,
        driver_rows: int = 1 << 17,
    ) -> None:
        """Declare dir-level Bloom filters on ``columns`` — Iceberg's
        ``write.parquet.bloom-filter-enabled.column.<col>`` table
        property, rendered at this format's manifest granularity.  Every
        data directory written FROM NOW ON gets one ``num_bits``-bit
        Bloom filter per listed column stamped into its ``_stats.json``
        (built in the same write, one extra columnar pass over the NEW
        dir only — O(payload), never a table scan), and
        ``read(where="col = <lit>")`` skips directories whose bloom
        proves the key absent at PLANNING time.

        This is the point-lookup complement to the min/max bounds: on a
        key column whose values are hash-distributed across directories
        (ids, digests — every CDC/upsert table), min/max covers the full
        range in every dir and prunes nothing, while a bloom skips all
        but the dirs that really hold the key.  Directories written
        before this call simply have no bloom and are kept (correct,
        unprunable); false positives only ever KEEP a directory.
        Defaults: 2^20 bits (128 KiB/dir/column), 7 hashes → <1% FPR at
        100k rows per dir."""
        if num_bits < 8 or num_bits % 8:
            raise ValueError("num_bits must be a positive multiple of 8")
        if not 1 <= num_hashes <= 16:
            raise ValueError("num_hashes must be in [1, 16]")
        props = {}
        if os.path.exists(self.props_path):
            with open(self.props_path) as f:
                props = json.load(f)
        props["blooms"] = {
            "columns": list(columns),
            "m": num_bits,
            "k": num_hashes,
            # dirs at or under this row count build their blooms
            # driver-side (pyarrow + the verified xxh64 replication, no
            # Spark job); larger dirs build distributed
            "driver_rows": driver_rows,
        }
        with open(self.props_path, "w") as f:
            json.dump(props, f)

    def _bloom_config(self) -> dict | None:
        if not os.path.exists(self.props_path):
            return None
        with open(self.props_path) as f:
            return json.load(f).get("blooms")

    def evolve_partitioning(self, column: str, transform: str = "day") -> None:
        """Iceberg-style PARTITION EVOLUTION: change the spec on a table
        that already has data.  The new spec applies to FUTURE writes
        only; existing data directories keep the layout they were written
        with (each dir is stamped with its spec at write time), exactly
        like Iceberg spec-id-per-manifest.  Reads remain correct across
        the mix: dirs whose spec matches the current one are pruned at
        the directory level, older dirs get the equivalent residual ROW
        filter ``transform(column) IN (values)`` — same semantics, no
        directory pruning (what Iceberg does for files under old specs).
        """
        _transform_fn(transform)  # validate (raises on unknown names)
        props = {}
        if os.path.exists(self.props_path):
            with open(self.props_path) as f:
                props = json.load(f)
        history = props.get("spec_history", [])
        if props.get("partition"):
            history.append(props["partition"])
        props["partition"] = {"column": column, "transform": transform}
        props["spec_history"] = history
        with open(self.props_path, "w") as f:
            json.dump(props, f)

    def _partition_spec(self) -> dict | None:
        if not os.path.exists(self.props_path):
            return None
        with open(self.props_path) as f:
            return json.load(f).get("partition")

    def _dir_spec(self, d: str) -> dict | None:
        """Partition spec a data directory was WRITTEN with (stamped by
        ``_write_data``).  Pre-stamp directories: infer from layout —
        ``__p=`` subdirs mean the (then-current) spec, else unpartitioned."""
        spec_path = os.path.join(d, "_spec.json")
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                return json.load(f) or None
        try:
            if any(e.startswith("__p=") for e in os.listdir(d)):
                return self._partition_spec()
        except FileNotFoundError:
            pass
        return None

    # -- snapshot metadata ------------------------------------------------
    def _snapshots(self) -> list[dict]:
        snaps = []
        for fn in os.listdir(self.snap_dir):
            if fn.startswith("snap-") and fn.endswith(".json"):
                with open(os.path.join(self.snap_dir, fn)) as f:
                    snaps.append(json.load(f))
        return sorted(snaps, key=lambda s: s["snapshot_id"])

    def _mainline(self) -> list[dict]:
        """Snapshots on the main branch (no ``branch`` stamp) — what
        ``current_snapshot``/``read`` resolve against.  Branch snapshots
        share the id space and snapshot dir but are invisible to main
        until published (Iceberg's refs model: ``main`` is just the
        default branch ref)."""
        return [s for s in self._snapshots() if "branch" not in s]

    def current_snapshot(self) -> dict | None:
        snaps = self._mainline()
        return snaps[-1] if snaps else None

    def history(self) -> list[dict]:
        """Snapshot log: [{snapshot_id, timestamp_ms, operation, data_dirs}]."""
        return self._snapshots()

    _COMMIT_LOCK_STALE_S = 60.0

    def _acquire_commit_lock(self) -> str:
        """Table-level commit mutex: an O_CREAT|O_EXCL lock file
        serializes the whole read-head → mint-id → publish sequence, the
        way Iceberg's HadoopTableOperations serializes via its atomic
        version-file rename.  A lock left by a crashed committer is
        stolen once it is older than ``_COMMIT_LOCK_STALE_S`` (the
        steal itself goes through os.replace of a freshly-claimed
        file, so two stealers cannot both win).

        Returns an OWNERSHIP TOKEN (a uuid written into the lock file at
        acquire/steal time).  Release goes through
        :meth:`_release_commit_lock`, which removes the lock ONLY if the
        file still contains this token — so a holder whose lock was
        stolen after a >stale-threshold stall cannot delete the
        stealer's lock from its finally-block and admit a third
        committer mid-commit."""
        lock = os.path.join(self.root, "commit.lock")
        deadline = time.time() + self._COMMIT_LOCK_STALE_S * 2
        while True:
            token = uuid.uuid4().hex
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                return token
            except FileExistsError:
                try:
                    st = os.stat(lock)
                except FileNotFoundError:
                    continue  # holder just released; retry immediately
                if time.time() - st.st_mtime > self._COMMIT_LOCK_STALE_S:
                    # evict the stale lock (verified-rename, never
                    # clobbers a fresh lock — see _evict_stale_lock),
                    # then contend via the normal O_EXCL path above so
                    # exactly one waiter wins
                    self._evict_stale_lock(lock, st)
                    continue
                if time.time() > deadline:
                    raise CommitConflictError(
                        f"commit lock {lock} held past deadline"
                    )
                time.sleep(0.02)

    def _evict_stale_lock(self, lock: str, observed: os.stat_result) -> None:
        """Atomically remove a lock observed stale WITHOUT ever deleting
        a fresh lock (ADVICE r5 #2 closed the os.replace clobber): rename
        the path aside (atomic — the renamed file is exactly one inode),
        then verify by inode+mtime that it IS the stale lock we observed.
        If the stale holder released and a fresh committer re-acquired in
        the observation→rename gap, we renamed the FRESH lock by mistake:
        restore it with ``os.link`` (atomic, fails rather than replaces,
        preserves the inode and therefore the staleness clock) and back
        off.  Residual exposure is a third committer's O_EXCL landing
        inside the rename→link window — one filesystem op wide, and only
        reachable after a compound race that already required a >stale
        release+reacquire inside a single stat→rename gap."""
        ident = (observed.st_ino, observed.st_mtime_ns)
        grave = lock + f".stale-{uuid.uuid4().hex}"
        try:
            st = os.stat(lock)  # re-check right before the rename
            if (st.st_ino, st.st_mtime_ns) != ident:
                return
            os.rename(lock, grave)
        except OSError:
            return
        try:
            g = os.stat(grave)
            if (g.st_ino, g.st_mtime_ns) != ident:
                # renamed a fresh lock by mistake: put it back
                try:
                    os.link(grave, lock)
                except OSError:
                    pass  # an even newer lock raced in; leave it
            os.remove(grave)
        except OSError:
            pass

    def _release_commit_lock(self, token: str) -> None:
        """Remove the commit lock IFF we still own it.  ADVICE r5 #3
        closed the read-token-then-remove race: release now RENAMES the
        lock to a uuid temp first (atomic — exactly one inode moves),
        verifies the token in the renamed file, and only then unlinks.
        If the token does not match, our lock was stolen after a stall
        and we just renamed the STEALER's lock — restore it with
        ``os.link`` (atomic no-replace, preserves inode+mtime) and walk
        away.  A stolen lock can therefore never be deleted by the
        stalled holder, however the steal and the release interleave."""
        lock = os.path.join(self.root, "commit.lock")
        tmp = lock + f".rel-{uuid.uuid4().hex}"
        try:
            os.rename(lock, tmp)
        except OSError:
            return  # stolen and already released/evicted
        try:
            with open(tmp) as f:
                owner = f.read()
            if owner != token:
                # stolen: we renamed the stealer's lock — put it back
                try:
                    os.link(tmp, lock)
                except OSError:
                    pass  # a newer lock raced in; leave it
            os.remove(tmp)
        except OSError:
            pass

    # -- field-id-addressed schema tracking (Iceberg column identity) ------
    #
    # Iceberg addresses columns by FIELD ID, not name: every column gets
    # an id at creation, data files record which ids their columns carry,
    # and renames touch only metadata — old data files keep serving the
    # renamed column because readers resolve id → current name.  The
    # fallback tracks the same model in <root>/schema.json:
    #   schemas            list of schema versions [{schema-id, fields:
    #                      [{id, name, type}]}] — append-only;
    #   current-schema-id  the live version;
    #   last-column-id     id high-water mark (never reused);
    #   dir-columns        per-data-dir {column-name-at-write → field-id}
    #                      (the stand-in for Iceberg stamping ids into
    #                      each file's metadata);
    #   dir-types          per-data-dir {column-name-at-write → Spark
    #                      type JSON} (``DataType.jsonValue()``), in file
    #                      column order — with dir-columns it is the dir's
    #                      file schema, so scans pass it to the reader
    #                      instead of running a footer-merge job to infer
    #                      it.  Absent for dirs written before types were
    #                      recorded; those scans still infer.
    # Snapshots record the schema-id they were committed under, so time
    # travel renders names AS OF the snapshot (Iceberg semantics) while
    # current reads render current names for every data dir, renamed or
    # not.

    @property
    def _schema_state_path(self) -> str:
        return os.path.join(self.root, "schema.json")

    def _load_schema_state(self) -> dict:
        if os.path.exists(self._schema_state_path):
            with open(self._schema_state_path) as f:
                return json.load(f)
        return {
            "schemas": [],
            "current-schema-id": -1,
            "last-column-id": 0,
            "dir-columns": {},
        }

    def _save_schema_state(self, st: dict) -> None:
        tmp = self._schema_state_path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._schema_state_path)

    @staticmethod
    def _fields_of(st: dict, schema_id: int) -> list[dict]:
        for s in st["schemas"]:
            if s["schema-id"] == schema_id:
                return s["fields"]
        return []

    def _sync_schema(self, df: DataFrame, dirbase: str) -> dict[str, int]:
        """Assign field ids for a new data dir's columns (minting ids
        for first-seen names), record the dir's name→id map and each
        column's type (``dir-columns`` / ``dir-types``: the dir's file
        schema, read back by :meth:`_dir_schema` so no scan of the dir
        infers it), and bump the schema version when the field set
        grew.  The types come from ``df.schema``, the plan's schema —
        no Spark job and no extra file.  Runs under the commit lock:
        concurrent writers must not mint the same id.  Returns the
        dir's name→id map (the write path stamps it into the parquet
        files as ``PARQUET:field_id``)."""
        lock_token = self._acquire_commit_lock()
        try:
            st = self._load_schema_state()
            fields = [dict(f) for f in self._fields_of(st, st["current-schema-id"])]
            by_name = {f["name"]: f for f in fields}
            changed = False
            for sf in df.schema.fields:
                if sf.name == "__p":
                    continue
                if sf.name not in by_name:
                    st["last-column-id"] += 1
                    nf = {
                        "id": st["last-column-id"],
                        "name": sf.name,
                        "type": sf.dataType.simpleString(),
                    }
                    fields.append(nf)
                    by_name[sf.name] = nf
                    changed = True
            if changed:
                new_id = (
                    max((s["schema-id"] for s in st["schemas"]), default=-1) + 1
                )
                st["schemas"].append({"schema-id": new_id, "fields": fields})
                st["current-schema-id"] = new_id
            file_fields = [sf for sf in df.schema.fields if sf.name != "__p"]
            dir_cols = {sf.name: by_name[sf.name]["id"] for sf in file_fields}
            st["dir-columns"][dirbase] = dir_cols
            st.setdefault("dir-types", {})[dirbase] = {
                sf.name: sf.dataType.jsonValue() for sf in file_fields
            }
            self._save_schema_state(st)
            return dir_cols
        finally:
            self._release_commit_lock(lock_token)

    def rename_column(self, old: str, new: str) -> None:
        """Iceberg ``ALTER TABLE ... RENAME COLUMN``: metadata-only — the
        field keeps its ID, so every existing data file keeps serving the
        column under its new name, and snapshots committed before the
        rename still time-travel with the OLD name (their schema-id
        predates the rename)."""
        spec = self._partition_spec()
        if spec and spec.get("column") == old:
            raise ValueError(
                "renaming the active partition column is not supported; "
                "evolve the partition spec first"
            )
        lock_token = self._acquire_commit_lock()
        try:
            st = self._load_schema_state()
            fields = [dict(f) for f in self._fields_of(st, st["current-schema-id"])]
            names = {f["name"] for f in fields}
            if old not in names:
                raise ValueError(f"no column {old!r} in current schema")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
            new_id = max((s["schema-id"] for s in st["schemas"]), default=-1) + 1
            st["schemas"].append({"schema-id": new_id, "fields": fields})
            st["current-schema-id"] = new_id
            self._save_schema_state(st)
        finally:
            self._release_commit_lock(lock_token)

    def _rename_map(self, st: dict, d: str, schema_id: int) -> dict[str, str]:
        """written-column-name → effective-name under ``schema_id`` for
        data dir ``d`` (empty = identity: the fast single-scan path)."""
        return self._dir_projection(st, d, schema_id)[0]

    def _dir_projection(
        self, st: dict, d: str, schema_id: int
    ) -> tuple[dict[str, str], list[str]]:
        """Field-id resolution for data dir ``d`` under ``schema_id``:
        ``(renames, drops)`` where renames maps written-name →
        effective-name and drops lists written columns whose field id is
        RETIRED in the effective schema (dropped columns must leave the
        scan — by-name merging would otherwise resurrect them, or worse,
        alias a re-added same-named column onto old data).  Both empty =
        identity = the single-scan fast path."""
        dcols = st.get("dir-columns", {}).get(os.path.basename(d))
        if not dcols:
            return {}, []  # pre-field-id dir: name-based resolution
        eff = {f["id"]: f["name"] for f in self._fields_of(st, schema_id)}
        renames = {
            name: eff[i]
            for name, i in dcols.items()
            if i in eff and eff[i] != name
        }
        drops = [name for name, i in dcols.items() if i not in eff]
        return renames, drops

    @staticmethod
    def _dir_schema(st: dict, d: str) -> StructType | None:
        """The file schema of data dir ``d`` as recorded at write time
        (``dir-types`` + the field ids of ``dir-columns``), equal to what
        Spark infers from the dir's footers, field-id metadata included
        (every file column reads back nullable either way).  None for a
        dir written before types were recorded."""
        base = os.path.basename(d.rstrip("/"))
        types = st.get("dir-types", {}).get(base)
        ids = st.get("dir-columns", {}).get(base)
        if types is None or ids is None:
            return None
        return _struct(
            (name, t, {"parquet.field.id": ids[name]})
            for name, t in types.items()
        )

    @staticmethod
    def _union_schemas(schemas: list[StructType]) -> StructType | None:
        """Union by name, in first-seen column order (what the footer
        merge yields); None when two schemas disagree on a column's
        type."""
        merged: dict[str, StructField] = {}
        for s in schemas:
            for f in s.fields:
                if merged.setdefault(f.name, f).dataType != f.dataType:
                    return None
        return StructType(list(merged.values()))

    def _scan(
        self,
        parts: list[tuple[StructType | None, list[str]]],
        each=None,
        base_path: str | None = None,
    ) -> DataFrame:
        """One parquet scan over ``parts`` — ``(recorded schema, paths)``
        pairs, one per dir — built without a Spark job: the recorded
        schemas are unioned by name and passed to the reader.  Where
        they disagree on a column's type (int→long widening across
        dirs) each dir is scanned with its own schema and the scans are
        unioned by name, which widens.  Only when some dir has no
        recorded schema (written before types were recorded) does Spark
        infer it, with the footer-merge job and the same per-path
        fallback.  ``each`` maps every scan before any union (the hidden
        ``_metadata`` column does not resolve through one);
        ``base_path`` roots partition discovery for scans of a dir's
        ``__p=`` subdirectories."""
        each = each or (lambda p: p)
        reader = self.spark.read
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        paths = [p for _, ps in parts for p in ps]
        schemas = [s for s, _ in parts]
        if all(s is not None for s in schemas):
            merged = self._union_schemas(schemas)
            if merged is not None:
                return each(reader.schema(merged).parquet(*paths))
            scans = [each(reader.schema(s).parquet(*ps)) for s, ps in parts]
        else:
            try:
                return each(reader.option("mergeSchema", "true").parquet(*paths))
            except Py4JJavaError:
                # CANNOT_MERGE_SCHEMAS: the footer merge refuses the
                # numeric widening Iceberg schema evolution allows
                scans = [each(reader.parquet(p)) for p in paths]
        df = scans[0]
        for p in scans[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return df

    def _scan_dirs(self, st: dict, dirs: list[str], each=None) -> DataFrame:
        """:meth:`_scan` of whole data dirs under schema state ``st``."""
        return self._scan([(self._dir_schema(st, d), [d]) for d in dirs], each)

    def drop_column(self, name: str) -> None:
        """Iceberg ``ALTER TABLE ... DROP COLUMN``: metadata-only — the
        field's ID is RETIRED (never reused; last-column-id only grows),
        data files keep their bytes, and reads under the new schema
        exclude the column.  Snapshots committed before the drop still
        time-travel WITH the column.  Re-adding the same name later
        mints a fresh id, so old files' retired values stay invisible
        and pre-re-add rows read NULL — exactly Iceberg's drop/re-add
        semantics."""
        spec = self._partition_spec()
        if spec and spec.get("column") == name:
            raise ValueError(
                "dropping the active partition column is not supported; "
                "evolve the partition spec first"
            )
        # an ACTIVE equality delete keyed on this column would become
        # unapplicable after the drop (reads exclude the column before
        # the key join): convert eq deletes to positional FIRST — the
        # delete's effect is preserved as row addresses, which survive
        # any schema change (real Iceberg applies eq deletes by field id
        # against file columns; this fallback's scans project by the
        # live schema, so conversion is the sound equivalent).  The
        # check is RE-RUN UNDER THE COMMIT LOCK: a concurrent
        # delete_by_key keyed on this column can land between an
        # unlocked pre-check and the schema commit, which would strand
        # an active eq delete with no live key column.  Conversion
        # itself commits (needs the lock), so on a dirty re-check we
        # release, convert, and loop — delete_by_key retries bound the
        # loop in practice.
        def keyed_on(cur: dict | None, st: dict) -> bool:
            if not cur:
                return False
            fid = next(
                (
                    f.get("id")
                    for f in self._fields_of(st, st["current-schema-id"])
                    if f["name"] == name
                ),
                None,
            )
            return any(
                fid in (e.get("field_ids") or []) or name in e["cols"]
                for e in cur.get("eq_delete_dirs", [])
            )

        for _ in range(10):
            if keyed_on(self.current_snapshot(), self._load_schema_state()):
                self.convert_equality_deletes()
            lock_token = self._acquire_commit_lock()
            try:
                st = self._load_schema_state()
                if keyed_on(self.current_snapshot(), st):
                    continue  # raced by delete_by_key: convert and retry
                fields = [
                    dict(f)
                    for f in self._fields_of(st, st["current-schema-id"])
                ]
                if name not in {f["name"] for f in fields}:
                    raise ValueError(f"no column {name!r} in current schema")
                if len(fields) == 1:
                    raise ValueError("cannot drop the last column")
                fields = [f for f in fields if f["name"] != name]
                new_id = (
                    max((s["schema-id"] for s in st["schemas"]), default=-1) + 1
                )
                st["schemas"].append({"schema-id": new_id, "fields": fields})
                st["current-schema-id"] = new_id
                self._save_schema_state(st)
                return
            finally:
                self._release_commit_lock(lock_token)
        raise RuntimeError(
            f"drop_column({name!r}): equality deletes keyed on the column "
            "kept landing concurrently; quiesce the delete stream and retry"
        )

    def _commit(
        self,
        operation: str,
        data_dirs: list[str],
        batch_id: str | None = None,
        delete_dirs: list[str] | None = None,
        branch: str | None = None,
        expected_parent_id=...,
        eq_delete_dirs: list[dict] | None = None,
    ) -> dict:
        """Publish a snapshot.  Commits are SERIALIZED by a table-level
        lock file (no two committers interleave the head-read / id-mint /
        metadata-version steps), and ``expected_parent_id`` adds true CAS
        semantics on top: pass the snapshot id the change was computed
        against (None for "expected empty table") and the commit FAILS
        with :class:`CommitConflictError` if the branch head moved —
        Iceberg's optimistic-concurrency contract (the loser retries on
        the new base) rather than last-writer-wins.  The default
        (ellipsis = no check) keeps single-writer callers unchanged:
        they read the head inside the lock, so their parent is always
        the true head."""
        lock_token = self._acquire_commit_lock()
        try:
            return self._commit_locked(
                operation, data_dirs, batch_id, delete_dirs, branch,
                expected_parent_id, eq_delete_dirs,
            )
        finally:
            # ownership-checked: a no-op if the lock was stolen mid-commit
            self._release_commit_lock(lock_token)

    def _commit_locked(
        self,
        operation: str,
        data_dirs: list[str],
        batch_id: str | None,
        delete_dirs: list[str] | None,
        branch: str | None,
        expected_parent_id,
        eq_delete_dirs: list[dict] | None = None,
    ) -> dict:
        cur = self.branch_head(branch) if branch else self.current_snapshot()
        if expected_parent_id is not ...:
            head_id = cur["snapshot_id"] if cur else None
            if head_id != expected_parent_id:
                raise CommitConflictError(
                    f"branch head moved: expected parent {expected_parent_id}, "
                    f"found {head_id}; re-read and retry"
                )
        all_snaps = self._snapshots()
        # snapshot ids must be monotonic over the table's LIFETIME, not
        # just over the currently-present snapshot files: drop_branch and
        # expiry DELETE snapshot files, and reusing a dropped id would
        # silently re-point tags / snapshot_id time travel / parent
        # chains at unrelated data. A persisted high-water mark
        # (seq.json, updated on every commit) rules that out.  The
        # O_CREAT|O_EXCL claim file per id is a belt-and-braces arbiter
        # (exactly one committer can create ``snap-<id>.json.lock``)
        # for ids minted while a stale commit lock is being stolen; a
        # claim leaked by a crash just skips that id — ids are unique,
        # not dense.
        seq_path = os.path.join(self.root, "seq.json")
        issued = 0
        if os.path.exists(seq_path):
            with open(seq_path) as f:
                issued = json.load(f)["last_snapshot_id"]
        next_id = max(issued, all_snaps[-1]["snapshot_id"] if all_snaps else 0)
        while True:
            next_id += 1
            claim = os.path.join(self.snap_dir, f"snap-{next_id:09d}.json.lock")
            try:
                os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                continue  # another committer holds this id
        # unique tmp name: a crashed writer's leftover tmp can never be
        # interleaved into another committer's os.replace
        tmp_seq = seq_path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp_seq, "w") as f:
            json.dump({"last_snapshot_id": next_id}, f)
        os.replace(tmp_seq, seq_path)
        snap = {
            "snapshot_id": next_id,
            "parent_id": cur["snapshot_id"] if cur else None,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            # schema version this snapshot was committed under: time
            # travel renders column names AS OF the snapshot (Iceberg
            # records schema-id on snapshots the same way)
            "schema_id": self._load_schema_state()["current-schema-id"],
            "data_dirs": data_dirs,
            # Iceberg v2 merge-on-read: directories of positional delete
            # files (file_path, pos) that readers of THIS snapshot must
            # subtract. Snapshots predating the feature lack the key —
            # read with .get(..., []).
            "delete_dirs": delete_dirs or [],
            # Iceberg v2 EQUALITY deletes: each entry is
            # {"dir": <parquet dir of key rows>, "cols": [names at
            # delete time], "field_ids": [...], "applies_to_dirs":
            # [data dirs live when the delete committed]} — a row is
            # dead iff its key matches AND its data dir was present at
            # delete time (the fallback's dir-granular rendering of the
            # spec's sequence-number scoping: rows appended later with
            # the same key survive).
            "eq_delete_dirs": eq_delete_dirs or [],
        }
        # Iceberg snapshot summary: record/file deltas from dir stats
        # stamps (footer metadata, not data scans) — what `snapshots`
        # exposes as added-records / total-records / position-deletes
        parent_dirs = set(cur["data_dirs"]) if cur else set()
        added = [d for d in data_dirs if d not in parent_dirs]
        snap["summary"] = {
            "added-data-dirs": len(added),
            "added-records": sum(self._dir_rows(d) for d in added),
            "total-records": sum(self._dir_rows(d) for d in data_dirs),
            "total-position-deletes": sum(
                self._dir_rows(d) for d in (delete_dirs or [])
            ),
            "total-equality-deletes": sum(
                self._dir_rows(e["dir"]) for e in (eq_delete_dirs or [])
            ),
        }
        if batch_id is not None:
            snap["batch_id"] = batch_id
        if branch is not None:
            snap["branch"] = branch
        path = os.path.join(self.snap_dir, f"snap-{snap['snapshot_id']:09d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)  # atomic commit, like Iceberg's metadata swap
        self._write_commit_metadata(snap)
        return snap

    # -- Iceberg-spec-shaped metadata layer (manifest lists + vN files) ----
    #
    # The fallback mirrors the Iceberg v2 METADATA TREE one level deeper
    # than the snapshot JSONs (VERDICT r2 ask #7): every commit writes
    #   metadata/manifest-<dirkey>.avro      one manifest PER DATA DIR
    #       (a REAL Avro object container file, spec field-ids in the
    #       schema — see lakehouse/avro_ocf.py; readable by the JVM
    #       avro library, interop-pinned by test), written once when the
    #       dir first appears and REUSED by every later snapshot's
    #       manifest list — Iceberg's manifest-reuse model (unchanged
    #       data never gets re-listed);
    #   metadata/snap-<id>.manifest-list.avro  the snapshot's manifest
    #       list (Avro, one manifest_file record per manifest, Iceberg
    #       field names);
    #   metadata/v<N>.metadata.json          full table metadata
    #       (format-version 2 field set, JSON per the spec) +
    #       metadata-log chaining;
    #   metadata/version-hint.text           latest version pointer
    #       (HadoopCatalog convention).
    # ``read_via_manifests`` resolves a scan purely through this chain
    # to prove it is complete.

    @property
    def metadata_dir(self) -> str:
        d = os.path.join(self.root, "metadata")
        os.makedirs(d, exist_ok=True)
        return d

    def _manifest_path_for_dir(self, d: str, content: str) -> str:
        # key by the dir's basename (a uuid for data dirs): stable across
        # snapshots, so later manifest lists reuse the same manifest file
        return os.path.join(
            self.metadata_dir, f"manifest-{content}-{os.path.basename(d)}.avro"
        )

    #: Iceberg v2 manifest_entry Avro schema (spec field-ids included as
    #: the standard custom attribute; partition rendered as map<string>
    #: since the fallback stamps hive-style path values)
    _MANIFEST_ENTRY_SCHEMA = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": "long", "field-id": 1},
            {"name": "sequence_number", "type": "long", "field-id": 3},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "type": {"type": "map", "values": "string"},
                            "field-id": 102,
                        },
                        {
                            "name": "record_count",
                            "type": ["null", "long"],
                            "field-id": 103,
                        },
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        # spec field 135: the equality-field ids of an
                        # equality-delete file (content=2); null for
                        # data / positional-delete files
                        {
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                            "field-id": 135,
                        },
                    ],
                },
                "field-id": 2,
            },
        ],
    }

    #: manifest_file schema for the snapshot's manifest LIST (Avro per
    #: the spec; field names pinned by the metadata-parity tests)
    _MANIFEST_FILE_SCHEMA = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long", "field-id": 513},
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        ],
    }

    def _write_manifest_for_dir(
        self, d: str, snapshot_id: int, content: str
    ) -> str:
        """One manifest per data/delete directory, Iceberg v2 entry shape:
        written when the directory FIRST enters a snapshot, reused by
        reference afterwards.  Returns the manifest path."""
        import glob as _glob

        path = self._manifest_path_for_dir(d, content)
        if os.path.exists(path):
            return path
        import pyarrow.parquet as _pq

        content_code = {"data": 0, "deletes": 1, "eq-deletes": 2}[content]
        equality_ids = None
        if content == "eq-deletes":
            # the delete dir's sidecar records the equality columns +
            # field ids (written by delete_by_key, like _spec/_stats)
            eq_sidecar = os.path.join(d, "_eq.json")
            if os.path.exists(eq_sidecar):
                with open(eq_sidecar) as f:
                    equality_ids = json.load(f).get("field_ids") or None
        entries = []
        for f in sorted(
            _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        ):
            try:
                nrows = _pq.ParquetFile(f).metadata.num_rows
            except Exception:
                nrows = None
            if nrows == 0:
                # Spark's unused output partitions: Iceberg never lists
                # empty data files in a manifest
                continue
            rel = os.path.relpath(f, d)
            partition = {}
            for seg in rel.split(os.sep)[:-1]:
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    partition[k] = v
            entries.append(
                {
                    "status": 1,  # ADDED (in the manifest that introduced it)
                    "snapshot_id": snapshot_id,
                    "sequence_number": snapshot_id,
                    "data_file": {
                        "content": content_code,
                        "file_path": f,
                        "file_format": "PARQUET",
                        "partition": partition,
                        "record_count": nrows,
                        "file_size_in_bytes": os.path.getsize(f),
                        "equality_ids": equality_ids,
                    },
                }
            )
        # a REAL Avro object container file (spec format, null codec) —
        # manifest-level attributes ride in the file-metadata map exactly
        # as Iceberg writes "schema"/"partition-spec-id"/"content" there
        from icebergproject_spark.lakehouse.avro_ocf import write_ocf

        write_ocf(
            path,
            self._MANIFEST_ENTRY_SCHEMA,
            entries,
            meta={
                "partition-spec-id": "0",
                "content": content,
                "added-snapshot-id": str(snapshot_id),
                "format-version": "2",
            },
        )
        return path

    def _read_manifest(self, path: str) -> dict:
        """Decode a manifest Avro container back to the doc shape the
        commit/scan paths consume (entries + file-level attributes)."""
        from icebergproject_spark.lakehouse.avro_ocf import read_ocf

        _, meta, entries = read_ocf(path)
        return {
            "manifest_path": path,
            "partition_spec_id": int(meta.get("partition-spec-id", "0")),
            "content": meta.get("content", "data"),
            "added_snapshot_id": int(meta.get("added-snapshot-id", "0")),
            "entries": entries,
        }

    def _write_commit_metadata(self, snap: dict) -> None:
        sid = snap["snapshot_id"]
        schema_st = self._load_schema_state()
        # 1. manifests (one per dir, first-appearance only) + the list
        lists = []
        for content, dirs in (
            ("data", snap["data_dirs"]),
            ("deletes", snap.get("delete_dirs", [])),
            ("eq-deletes", [e["dir"] for e in snap.get("eq_delete_dirs", [])]),
        ):
            for d in dirs:
                mp = self._write_manifest_for_dir(d, sid, content)
                m = self._read_manifest(mp)
                lists.append(
                    {
                        "manifest_path": mp,
                        "manifest_length": os.path.getsize(mp),
                        "partition_spec_id": 0,
                        # spec: manifest_file.content is 0=data 1=deletes;
                        # positional vs equality is the DATA_FILE-level
                        # content code (1 vs 2) inside the manifest
                        "content": 0 if content == "data" else 1,
                        "sequence_number": sid,
                        "min_sequence_number": m["added_snapshot_id"],
                        "added_snapshot_id": m["added_snapshot_id"],
                        "added_files_count": len(m["entries"])
                        if m["added_snapshot_id"] == sid
                        else 0,
                        "existing_files_count": 0
                        if m["added_snapshot_id"] == sid
                        else len(m["entries"]),
                        "deleted_files_count": 0,
                        "added_rows_count": sum(
                            e["data_file"]["record_count"] or 0
                            for e in m["entries"]
                        )
                        if m["added_snapshot_id"] == sid
                        else 0,
                        "existing_rows_count": 0
                        if m["added_snapshot_id"] == sid
                        else sum(
                            e["data_file"]["record_count"] or 0
                            for e in m["entries"]
                        ),
                        "deleted_rows_count": 0,
                    }
                )
        ml_path = os.path.join(
            self.metadata_dir, f"snap-{sid:09d}.manifest-list.avro"
        )
        from icebergproject_spark.lakehouse.avro_ocf import write_ocf

        write_ocf(
            ml_path,
            self._MANIFEST_FILE_SCHEMA,
            lists,
            meta={"snapshot-id": str(sid), "format-version": "2"},
        )
        # 2. v<N>.metadata.json — the format-version-2 field set.
        # Version minting is a read-modify-write on version-hint.text,
        # safe because _write_commit_metadata only runs inside the
        # table-level commit lock (_acquire_commit_lock serializes the
        # whole commit, so no two committers can read the same prev_n)
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        prev_n = 0
        prev_meta_path = None
        if os.path.exists(hint):
            with open(hint) as f:
                prev_n = int(f.read().strip() or 0)
            prev_meta_path = os.path.join(
                self.metadata_dir, f"v{prev_n}.metadata.json"
            )
        n = prev_n + 1
        prev_meta = {}
        if prev_meta_path and os.path.exists(prev_meta_path):
            with open(prev_meta_path) as f:
                prev_meta = json.load(f)
        table_uuid = prev_meta.get("table-uuid") or uuid.uuid4().hex
        metadata_log = prev_meta.get("metadata-log", [])
        if prev_meta_path and os.path.exists(prev_meta_path):
            metadata_log = metadata_log + [
                {
                    "metadata-file": prev_meta_path,
                    "timestamp-ms": prev_meta.get("last-updated-ms"),
                }
            ]
        spec = self._partition_spec()
        fields = (
            [
                {
                    "source-id": 1,
                    "field-id": 1000,
                    "name": f"{spec['column']}_{spec['transform']}",
                    "transform": spec["transform"],
                }
            ]
            if spec
            else []
        )
        mainline = self._mainline()
        refs = self._refs()
        meta = {
            "format-version": 2,
            "table-uuid": table_uuid,
            "location": self.root,
            "last-sequence-number": sid,
            "last-updated-ms": snap["timestamp_ms"],
            "last-column-id": schema_st["last-column-id"],
            "schemas": [
                {
                    "schema-id": s["schema-id"],
                    "type": "struct",
                    "fields": [
                        {
                            "id": f["id"],
                            "name": f["name"],
                            "required": False,
                            "type": f.get("type", ""),
                        }
                        for f in s["fields"]
                    ],
                }
                for s in schema_st["schemas"]
            ]
            or [{"schema-id": 0, "type": "struct", "fields": []}],
            "current-schema-id": max(schema_st["current-schema-id"], 0),
            "partition-specs": [{"spec-id": 0, "fields": fields}],
            "default-spec-id": 0,
            "last-partition-id": 1000 if fields else 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
            "properties": {},
            "current-snapshot-id": mainline[-1]["snapshot_id"]
            if mainline
            else -1,
            "snapshots": [
                {
                    "snapshot-id": s["snapshot_id"],
                    "parent-snapshot-id": s.get("parent_id"),
                    "sequence-number": s["snapshot_id"],
                    "timestamp-ms": s["timestamp_ms"],
                    "manifest-list": os.path.join(
                        self.metadata_dir,
                        f"snap-{s['snapshot_id']:09d}.manifest-list.avro",
                    ),
                    "summary": {
                        "operation": s.get("operation", ""),
                        **{
                            k: str(v)
                            for k, v in (s.get("summary") or {}).items()
                        },
                    },
                }
                for s in self._snapshots()
            ],
            "snapshot-log": [
                {
                    "snapshot-id": s["snapshot_id"],
                    "timestamp-ms": s["timestamp_ms"],
                }
                for s in mainline
            ],
            "metadata-log": metadata_log,
            "refs": {
                **(
                    {
                        "main": {
                            "snapshot-id": mainline[-1]["snapshot_id"],
                            "type": "branch",
                        }
                    }
                    if mainline
                    else {}
                ),
                **{
                    name: {
                        "snapshot-id": (self.branch_head(name) or {}).get(
                            "snapshot_id"
                        ),
                        "type": "branch",
                    }
                    for name in refs.get("branches", {})
                },
                **{
                    name: {"snapshot-id": t["snapshot_id"], "type": "tag"}
                    for name, t in refs.get("tags", {}).items()
                },
            },
        }
        meta_path = os.path.join(self.metadata_dir, f"v{n}.metadata.json")
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
        tmp_hint = hint + ".tmp"
        with open(tmp_hint, "w") as f:
            f.write(str(n))
        os.replace(tmp_hint, hint)

    def read_via_manifests(self, snapshot_id: int | None = None) -> DataFrame:
        """Resolve a snapshot scan PURELY through the Iceberg-shaped
        metadata chain: version-hint → v<N>.metadata.json → the
        snapshot's manifest list → manifests → data file paths.  Proves
        the metadata tree is complete (test-asserted equal to ``read``).
        Positional deletes are applied exactly like ``read`` by routing
        content=1 manifests to the delete side."""
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        with open(hint) as f:
            n = int(f.read().strip())
        with open(os.path.join(self.metadata_dir, f"v{n}.metadata.json")) as f:
            meta = json.load(f)
        sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
        snap_entry = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == sid
        )
        from icebergproject_spark.lakehouse.avro_ocf import read_ocf

        _, _, ml = read_ocf(snap_entry["manifest-list"])
        data_files: list[str] = []
        delete_files: list[str] = []
        eq_delete_dirs: set[str] = set()
        for entry in ml:
            man = self._read_manifest(entry["manifest_path"])
            for e in man["entries"]:
                code = e["data_file"]["content"]
                fp = e["data_file"]["file_path"]
                if code == 0:
                    data_files.append(fp)
                elif code == 1:
                    delete_files.append(fp)
                else:  # 2 = equality deletes: resolved per-DIR (the
                    # application scope lives on the snapshot entry)
                    eq_delete_dirs.add(os.path.dirname(fp))
        if not data_files:
            # every file was empty (manifests skip zero-row files): the
            # snapshot's state is an empty table with the current schema
            return self.read(snapshot_id=sid).limit(0)
        schema_st = self._load_schema_state()
        if snapshot_id is None:
            # current read: render under the LIVE schema (metadata-only
            # DDL takes effect immediately, matching read())
            eff_sid = schema_st["current-schema-id"]
        else:
            snap_dicts = [s for s in self._snapshots() if s["snapshot_id"] == sid]
            eff_sid = (
                snap_dicts[0].get("schema_id", schema_st["current-schema-id"])
                if snap_dicts
                else schema_st["current-schema-id"]
            )

        def file_dir(f: str) -> str | None:
            rel = os.path.relpath(f, self.data_dir)
            if rel.startswith(".."):
                return None
            return os.path.join(self.data_dir, rel.split(os.sep)[0])

        eq_entries = [
            e
            for s in ([s for s in self._snapshots() if s["snapshot_id"] == sid])
            for e in s.get("eq_delete_dirs", [])
            if e["dir"] in eq_delete_dirs
        ]
        need_addr = bool(delete_files or eq_entries)

        # field-id resolution (matching read()): group files by their
        # data dir's rename map, scan per group under the union of its
        # dirs' recorded schemas (after additive schema evolution the
        # first file's schema must not win), address each scan (the
        # hidden _metadata column does not resolve through a union),
        # rename, union by name — identity maps collapse to one scan
        groups: dict[tuple, dict[str | None, list[str]]] = {}
        for f in data_files:
            d = file_dir(f)
            ren, drp = (
                self._dir_projection(schema_st, d, eff_sid) if d else ({}, [])
            )
            key = (tuple(sorted(ren.items())), tuple(sorted(drp)))
            groups.setdefault(key, {}).setdefault(d, []).append(f)
        parts = []
        for (ren, drp), by_dir in groups.items():
            p = self._scan(
                [
                    (self._dir_schema(schema_st, d) if d else None, fs)
                    for d, fs in by_dir.items()
                ],
                self._address if need_addr else None,
            )
            if drp:
                p = p.drop(*drp)
            if ren:
                p = p.withColumnsRenamed(dict(ren))
            parts.append(p)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        if delete_files:
            dels = self._read_pos_deletes(delete_files)
            df = df.join(F.broadcast(dels), ["__file", "__pos"], "left_anti")
        if need_addr:
            df = self._apply_eq_deletes(
                df, eq_entries, eff_schema_id=eff_sid
            ).drop("__file", "__pos")
        if "__p" in df.columns:
            df = df.drop("__p")
        return df

    def _write_data(self, df: DataFrame) -> str:
        d = os.path.join(self.data_dir, uuid.uuid4().hex)
        # field-id bookkeeping FIRST (mint ids for new columns, record
        # this dir's name→id map), then stamp the ids into the parquet
        # files themselves: Spark's native fieldId writer emits the
        # Iceberg-standard ``PARQUET:field_id`` per column, so the data
        # files are portable to real Iceberg readers (which resolve
        # columns by id, not name) — pinned by
        # test_parquet_files_carry_field_ids.
        name_to_id = self._sync_schema(df, os.path.basename(d))
        self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        for c in df.columns:
            if c in name_to_id:
                df = df.withMetadata(c, {"parquet.field.id": name_to_id[c]})
        spec = self._partition_spec()
        if spec:
            part = _transform_fn(spec["transform"])(spec["column"]).alias("__p")
            df.withColumn("__p", part).write.mode("overwrite").partitionBy(
                "__p"
            ).parquet(d)
        else:
            df.write.mode("overwrite").parquet(d)
        # stamp the spec the dir was written with (partition evolution:
        # readers must know each dir's layout, not just the current spec)
        with open(os.path.join(d, "_spec.json"), "w") as f:
            json.dump(spec, f)
        self._write_dir_stats(d)
        self._write_dir_blooms(d)
        return d

    def _write_dir_stats(self, d: str) -> None:
        """Iceberg-manifest-style column bounds for a data directory:
        per-column min/max aggregated from the parquet FOOTERS the write
        just produced (no second pass over the data — the stats already
        exist in every row-group header). ``read(where=...)`` prunes
        whole directories against these at PLANNING time, before any
        Spark job runs — the fallback's equivalent of Iceberg skipping
        manifests/files by their value ranges. Only JSON-exact types
        (int / float / str / bool) are kept; anything else is simply not
        prunable on (correct, never wrong)."""
        import glob as _glob

        import pyarrow.parquet as _pq

        lo: dict[str, object] = {}
        hi: dict[str, object] = {}
        n_rows = 0
        n_files = 0
        for f in _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            try:
                meta = _pq.ParquetFile(f).metadata
            except Exception:
                return  # unreadable footer → no stats for this dir
            n_rows += meta.num_rows
            n_files += 1
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    st = col.statistics
                    name = col.path_in_schema
                    if st is None or not st.has_min_max or "." in name:
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes) or isinstance(mx, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except Exception:
                            continue
                    if not isinstance(mn, (int, float, str, bool)):
                        continue
                    lo[name] = mn if name not in lo else min(lo[name], mn)
                    hi[name] = mx if name not in hi else max(hi[name], mx)
        with open(os.path.join(d, "_stats.json"), "w") as f:
            json.dump(
                {
                    "num_rows": n_rows,
                    "num_files": n_files,
                    "cols": {c: [lo[c], hi[c]] for c in lo},
                },
                f,
            )

    def _write_dir_blooms(self, d: str) -> None:
        """Stamp the configured per-column Bloom filters into the new
        directory's ``_stats.json`` (see :meth:`set_bloom_filters`).
        Small directories (micro-batch appends, CDC upserts — row count
        from the ``_stats.json`` stamp) build DRIVER-SIDE: pyarrow reads
        just the bloomed columns of the new local files and the
        property-tested Python xxhash64 replication hashes them — no
        Spark job at all (the probe measured ~1.4 s of pure job-roundtrip
        tax per micro-batch otherwise).  Large directories (compaction
        outputs) build distributed: ONE columnar pass hashes every
        bloomed column JVM-side and each task ships back only its
        bitsets, OR-ed here — cost O(payload), independent of table
        size, bit-identical to the driver path by the xxh64 property
        test."""
        cfg = self._bloom_config()
        if not cfg:
            return
        import numpy as np

        m, k = cfg["m"], cfg["k"]
        small = self._dir_rows(d) <= cfg.get("driver_rows", 1 << 17)
        blooms = self._blooms_driver_side(d, cfg) if small else None
        if blooms is None:
            df = self._scan_dirs(self._load_schema_state(), [d])
            cols = [c for c in cfg["columns"] if c in df.columns]
            if not cols:
                return
            types = {c: df.schema[c].dataType.simpleString() for c in cols}
            partials = (
                df.select(
                    *[F.xxhash64(F.col(c)).alias("h_" + c) for c in cols]
                )
                .mapInPandas(
                    _bloom_partial_fn(cols, m, k), "col string, bits binary"
                )
                .collect()
            )
            acc = {c: np.zeros(m // 8, dtype=np.uint8) for c in cols}
            for r in partials:
                acc[r.col] |= np.frombuffer(r.bits, dtype=np.uint8)
            blooms = {
                c: {
                    "b64": base64.b64encode(acc[c].tobytes()).decode(),
                    "m": m,
                    "k": k,
                    "type": types[c],
                }
                for c in cols
            }
        if not blooms:
            return
        # a SEPARATE sidecar (not _stats.json): bloom blobs are ~m/8
        # bytes per column and _stats.json is parsed on every read —
        # _blooms.json is opened only when an equality conjunct on a
        # bloomed column is actually on the plan
        with open(os.path.join(d, "_blooms.json"), "w") as f:
            json.dump(blooms, f)

    #: pyarrow physical types the driver-side bloom build can hash with
    #: the verified Python replication; anything else → distributed
    _PA_TO_SPARK = {
        "int64": "bigint", "int32": "int", "int16": "smallint",
        "int8": "tinyint", "string": "string", "large_string": "string",
    }

    def _blooms_driver_side(self, d: str, cfg: dict) -> dict | None:
        """Build the dir blooms driver-side from the new LOCAL parquet
        files: pyarrow reads only the bloomed columns, the xxh64
        replication hashes them (numpy-vectorized for integrals).
        Returns None when any bloomed column's type isn't covered by
        the verified replication — the caller then runs the distributed
        build, which handles every Spark type."""
        import glob as _glob

        import numpy as np
        import pyarrow.parquet as _pq

        m, k = cfg["m"], cfg["k"]
        acc: dict[str, object] = {}
        types: dict[str, str] = {}
        for f in _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            try:
                pf = _pq.ParquetFile(f)
            except Exception:
                return None
            names = set(pf.schema_arrow.names)
            for c in cfg["columns"]:
                if c not in names:
                    continue
                t = self._PA_TO_SPARK.get(str(pf.schema_arrow.field(c).type))
                if t is None or types.setdefault(c, t) != t:
                    return None  # unsupported or drifting type
                col = pf.read(columns=[c]).column(c).drop_null()
                if t == "string":
                    hashes = np.fromiter(
                        (
                            _xxh.hash_bytes(v.encode("utf-8"))
                            for v in col.to_pylist()
                        ),
                        dtype=np.int64,
                    )
                else:
                    arr = col.combine_chunks().to_numpy(zero_copy_only=False)
                    hashes = (
                        _xxh.hash_longs_np(arr.astype(np.int64))
                        if t == "bigint"
                        else _xxh.hash_ints_np(arr.astype(np.int32))
                    )
                bits = acc.setdefault(c, np.zeros(m // 8, dtype=np.uint8))
                _bloom_set_bits(bits, hashes, m, k)
        return {
            c: {
                "b64": base64.b64encode(acc[c].tobytes()).decode(),
                "m": m,
                "k": k,
                "type": types[c],
            }
            for c in acc
        }

    def _dir_rows(self, d: str) -> int:
        """Record count of a data/delete directory — from its stats stamp
        when present, else summed from parquet footers (metadata read,
        never a data scan)."""
        stats_path = os.path.join(d, "_stats.json")
        if os.path.exists(stats_path):
            with open(stats_path) as f:
                stats = json.load(f)
            if "num_rows" in stats:
                return stats["num_rows"]
        import glob as _glob

        import pyarrow.parquet as _pq

        total = 0
        for f in _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            try:
                total += _pq.ParquetFile(f).metadata.num_rows
            except Exception:
                return -1
        return total

    # -- operations -------------------------------------------------------
    def append(self, df: DataFrame, branch: str | None = None) -> dict:
        """K1: streaming/batch append — new snapshot = parent dirs + new dir.
        Parent positional deletes carry forward: data files are immutable,
        so (file, pos) addresses stay valid across appends.

        ``branch``: commit to a named branch (created with
        :meth:`create_branch`) instead of main — Iceberg's
        ``toBranch(...)`` write, the staging half of write-audit-publish.

        Concurrency: the commit is CAS-guarded (the snapshot is computed
        against the head read here; a concurrent commit in the gap
        raises :class:`CommitConflictError` inside ``_commit``) and
        RETRIED Iceberg-style — re-read the new head, recompute the dir
        union (the data files written once are reused), commit again —
        up to ``max_retries`` times, so concurrent appenders all land
        and no snapshot ever drops another's directories
        (test_concurrent_appends_all_land)."""
        new_dir = self._write_data(df)
        for attempt in range(self._APPEND_MAX_RETRIES + 1):
            cur = self.branch_head(branch) if branch else self.current_snapshot()
            dirs = (cur["data_dirs"] if cur else []) + [new_dir]
            try:
                return self._commit(
                    "append",
                    dirs,
                    delete_dirs=list(cur.get("delete_dirs", [])) if cur else [],
                    eq_delete_dirs=list(cur.get("eq_delete_dirs", [])) if cur else [],
                    branch=branch,
                    # CAS: dirs were computed against this head — if
                    # another commit lands first, fail and retry on the
                    # new base instead of silently dropping its
                    # data_dirs from the new snapshot
                    expected_parent_id=cur["snapshot_id"] if cur else None,
                )
            except CommitConflictError:
                if attempt == self._APPEND_MAX_RETRIES:
                    raise
                time.sleep(0.005 * (attempt + 1))

    _APPEND_MAX_RETRIES = 20

    def _retry_cas(self, attempt_fn, max_retries: int | None = None) -> dict:
        """Iceberg optimistic-concurrency wrapper for mutating paths whose
        new snapshot DEPENDS on the head they read (merge, delete, update,
        compact, …): ``attempt_fn(cur)`` computes its change against head
        ``cur`` and commits with ``expected_parent_id=cur's id``; when a
        concurrent commit lands in the gap the CAS raises
        :class:`CommitConflictError` and the change is RECOMPUTED against
        the new head — never silently dropping the other commit's
        directories (last-writer-wins).  Data files written by a losing
        attempt become orphans, exactly like Iceberg's failed commits;
        :meth:`remove_orphan_files` sweeps them."""
        retries = self._APPEND_MAX_RETRIES if max_retries is None else max_retries
        for attempt in range(retries + 1):
            cur = self.current_snapshot()
            try:
                return attempt_fn(cur)
            except CommitConflictError:
                if attempt == retries:
                    raise
                time.sleep(0.005 * (attempt + 1))

    @staticmethod
    def _cas_id(cur: dict | None):
        return cur["snapshot_id"] if cur else None

    def overwrite(self, df: DataFrame) -> dict:
        """Full-table replace.  Intentionally NOT CAS-guarded: the new
        snapshot is derived from ``df`` alone (no dependency on the head
        it replaces), so replace-whatever-is-there IS the contract —
        Iceberg's unconditional ``overwrite()`` behaves the same."""
        new_dir = self._write_data(df)
        return self._commit("overwrite", [new_dir])

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        delete_condition=None,
        drop_cols: list[str] | None = None,
        mode: str = "copy-on-write",
    ) -> dict:
        """K6: MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT —
        plus Iceberg's delete clause::

            WHEN MATCHED AND <delete_condition> THEN DELETE
            WHEN MATCHED                        THEN UPDATE SET *
            WHEN NOT MATCHED AND NOT <delete_condition> THEN INSERT *

        Last-writer-wins per key within ``updates`` (the reference's Phoenix
        upsert applies CDC records in order; in a micro-batch the latest
        record per key wins — dedup keeps that one).

        ``delete_condition`` (Column or SQL string, evaluated on the
        UPDATE row — e.g. ``"op = 'D'"`` for a CDC stream, T8): matching
        target rows are removed; a delete for an absent key is a no-op
        (never inserted).  ``drop_cols`` drops CDC metadata columns (op,
        ts) from the applied rows AFTER the condition is evaluated, so
        the table schema stays clean.

        ``mode="merge-on-read"`` (Iceberg v2 MOR MERGE): instead of
        rewriting the whole table, write ONE positional delete file for
        the target rows whose key appears in ``updates`` (semi-join on
        the addressed scan) plus ONE data file with the applied rows —
        write cost O(matched + updates), the CDC steady-state shape.
        Semantics identical to copy-on-write; compaction folds the
        deletes back in.
        """
        w_last = F.row_number().over(
            Window.partitionBy(*key_cols).orderBy(F.monotonically_increasing_id().desc())
        )
        deduped = (
            updates.withColumn("__rn", w_last).filter(F.col("__rn") == 1).drop("__rn")
        )
        if delete_condition is not None:
            cond = (
                F.expr(delete_condition)
                if isinstance(delete_condition, str)
                else delete_condition
            )
            upserts = deduped.filter(~cond)
        else:
            upserts = deduped
        if drop_cols:
            # keys stay; only metadata payload columns are dropped
            deduped = deduped.drop(*[c for c in drop_cols if c not in key_cols])
            upserts = upserts.drop(*[c for c in drop_cols if c not in key_cols])
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError("mode must be 'copy-on-write' or 'merge-on-read'")

        # CAS-guarded (the merged snapshot depends on the head it was
        # computed against): a concurrent append landing in the gap makes
        # the commit fail and the merge recompute on the new base, so the
        # append's rows flow INTO the merge instead of being dropped.
        def attempt(cur):
            if cur is None:
                new_dir = self._write_data(upserts)
                return self._commit("merge", [new_dir], expected_parent_id=None)
            if mode == "merge-on-read":
                # old versions of every touched key (updates AND deletes)
                # become positional delete entries; applied rows append
                touched = deduped.select(*key_cols).distinct()
                matched = self.read(with_address=True).join(
                    touched, key_cols, "left_semi"
                )
                del_dir = os.path.join(self.deletes_root, uuid.uuid4().hex)
                matched.select("__file", "__pos").write.mode("overwrite").parquet(
                    del_dir
                )
                new_dir = self._write_data(upserts)
                return self._commit(
                    "merge",
                    list(cur["data_dirs"]) + [new_dir],
                    delete_dirs=list(cur.get("delete_dirs", [])) + [del_dir],
                    eq_delete_dirs=list(cur.get("eq_delete_dirs", [])),
                    expected_parent_id=self._cas_id(cur),
                )
            target = self.read()
            # anti-join against EVERY touched key (updates and deletes)
            # wipes the old versions; only the non-delete rows come back in
            merged = target.join(
                deduped.select(*key_cols).distinct(), key_cols, "left_anti"
            ).unionByName(upserts)
            new_dir = self._write_data(merged)
            return self._commit(
                "merge", [new_dir], expected_parent_id=self._cas_id(cur)
            )

        return self._retry_cas(attempt)

    def diff(self, from_snapshot_id: int, to_snapshot_id: int) -> DataFrame:
        """Snapshot-to-snapshot changelog (M3 extended — what Iceberg
        exposes as the ``changes`` metadata table / Delta as CDF): rows
        present only in the newer snapshot are inserts, rows present only
        in the older are deletes. Set-difference both ways on full rows —
        one shuffle each, no per-snapshot file bookkeeping needed because
        snapshots are immutable.

        Returns the union with a ``_change_type`` column
        ('insert' | 'delete')."""
        old = self.read(snapshot_id=from_snapshot_id)
        new = self.read(snapshot_id=to_snapshot_id)
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def incremental_batches(
        self, from_snapshot_id: int | None = None
    ) -> list[tuple[int, str, DataFrame]]:
        """Table-as-a-SOURCE: the append feed since ``from_snapshot_id``
        (exclusive) — Iceberg's incremental append scan, the counterpart
        of the pipeline's sinks.  Where the reference chains stages
        through Kafka topics, stages here can chain through lakehouse
        tables: a consumer remembers the last snapshot id it processed
        (its "offset") and drains one DataFrame per newer MAIN snapshot.

        Reading cost is O(new data): an append's delta is exactly its
        added data dirs (snapshots are immutable, dirs append-only), so
        no diffing scan touches history.  Non-append snapshots
        (compact / publish / rewrite_position_deletes) REORGANIZE
        existing rows and are emitted as empty placeholders (op recorded,
        no rows) so consumers advance their offset past them; content-
        CHANGING ops (overwrite / delete / merge / rollback) are not
        expressible as an append feed — consumers needing those use
        :meth:`diff` (full CDF semantics) between their offset and the
        head.

        Returns [(snapshot_id, operation, batch_df), ...] in commit
        order; empty list when already caught up.  Like any log
        consumer, the offset must not outlive retention: if
        ``from_snapshot_id`` has been expired, the feed restarts from
        the oldest retained snapshot (emitting its full state as the
        first batch) — size ``expire_snapshots(retain_last=...)`` to
        cover the slowest consumer.
        """
        out: list[tuple[int, str, DataFrame]] = []
        prev_dirs: set | None = None
        schema_st = self._load_schema_state()
        for s in self._mainline():
            if from_snapshot_id is not None and s["snapshot_id"] <= from_snapshot_id:
                prev_dirs = set(s["data_dirs"])
                continue
            op = s.get("operation", "")
            if prev_dirs is None:
                # Cold start, or the offset outlived retention (it never
                # matched a retained snapshot): the docstring's promise is
                # "full state as the first batch" — and that must hold even
                # when the oldest retained snapshot is a non-append
                # (compact/publish after maintain), which would otherwise
                # emit an empty placeholder and silently drop the table's
                # existing rows from the feed.
                batch = self.read(snapshot_id=s["snapshot_id"])
            else:
                added = [d for d in s["data_dirs"] if d not in prev_dirs]
                if op == "append" and added:
                    batch = self._scan_dirs(schema_st, added)
                else:
                    batch = self.read(snapshot_id=s["snapshot_id"]).limit(0)
            out.append((s["snapshot_id"], op, batch))
            prev_dirs = set(s["data_dirs"])
        return out

    def merge_additive(
        self,
        partials: DataFrame,
        key_cols: list[str],
        batch_id: str | None = None,
    ) -> dict | None:
        """Incremental aggregate maintenance: MERGE partial aggregates by
        ADDING them into the stored totals (WHEN MATCHED THEN UPDATE SET
        v = t.v + s.v). The streaming serving-table pattern: each
        micro-batch contributes its partial sums and the table always
        holds running totals — no re-scan of history, state lives in the
        table, not the stream.

        All non-key numeric columns are summed; ``partials`` should
        already be one row per key (a groupBy output).

        ``batch_id``: replay token — a merge whose batch_id a snapshot
        already records becomes a no-op (returns None), making additive
        maintenance safe under at-least-once delivery / driver-restart
        replay, the same contract as :meth:`idempotent_append` (which
        addition, unlike :meth:`merge_max`'s lattice join, needs: a
        replayed partial sum would otherwise double-count).
        """
        # CAS-guarded: two micro-batches merging concurrently must not
        # lose each other's partial sums (lost update = wrong totals)
        def attempt(cur):
            if batch_id is not None and self.has_batch(batch_id):
                return None  # replay of a committed batch (re-check per
                # attempt: a concurrent committer may have landed it)
            if cur is None:
                new_dir = self._write_data(partials)
                return self._commit(
                    "merge_additive", [new_dir], batch_id=batch_id,
                    expected_parent_id=None,
                )
            target = self.read()
            val_cols = [c for c in partials.columns if c not in key_cols]
            merged = (
                target.unionByName(partials)
                .groupBy(*key_cols)
                .agg(*[F.sum(c).alias(c) for c in val_cols])
            )
            new_dir = self._write_data(merged)
            return self._commit(
                "merge_additive", [new_dir], batch_id=batch_id,
                expected_parent_id=self._cas_id(cur),
            )

        return self._retry_cas(attempt)

    def merge_max(self, partials: DataFrame, key_cols: list[str]) -> dict:
        """Incremental SKETCH maintenance: MERGE partial states by
        ELEMENT-WISE MAX (WHEN MATCHED THEN UPDATE SET v =
        GREATEST(t.v, s.v)) — the lattice-join for max-mergeable
        sketches: HyperLogLog registers (llm/text.hll_registers — union
        of value sets == max of registers, pinned by
        test_hll_registers_merge_by_max), high-watermarks, last-seen
        versions.  The streaming twin of :meth:`merge_additive`: each
        micro-batch merges its m-row register partials and the table
        always holds the union sketch — idempotent under replay (max is
        absorbing, so at-least-once delivery cannot inflate it, unlike
        a sum).

        All non-key numeric columns are maxed; ``partials`` should
        already be one row per key (a groupBy output).
        """
        # CAS-guarded like merge_additive: concurrent micro-batches must
        # not lose each other's registers (max is commutative, but a
        # lost update still drops state)
        def attempt(cur):
            if cur is None:
                new_dir = self._write_data(partials)
                return self._commit(
                    "merge_max", [new_dir], expected_parent_id=None
                )
            target = self.read()
            val_cols = [c for c in partials.columns if c not in key_cols]
            merged = (
                target.unionByName(partials)
                .groupBy(*key_cols)
                .agg(*[F.max(c).alias(c) for c in val_cols])
            )
            new_dir = self._write_data(merged)
            return self._commit(
                "merge_max", [new_dir], expected_parent_id=self._cas_id(cur)
            )

        return self._retry_cas(attempt)

    @staticmethod
    def _address(df: DataFrame) -> DataFrame:
        """Prefix a scan with the Iceberg v2 row address: (file, pos) from
        Spark's hidden ``_metadata`` struct — constant-time per row, no
        shuffle, stable for immutable parquet files."""
        return df.select(
            F.col("_metadata.file_path").alias("__file"),
            F.col("_metadata.row_index").cast("long").alias("__pos"),
            "*",
        )

    def read(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_values: list | None = None,
        with_address: bool = False,
        where: str | None = None,
        ref: str | None = None,
        apply_eq_deletes: bool = True,
    ) -> DataFrame:
        """S5 + M3: batch scan, optionally time-travelling.

        Building the DataFrame runs no Spark job to learn a schema (and
        the pruning below none either, bar a bloom literal
        :meth:`_literal_hash` cannot hash in Python).  Every scan takes
        its schema from table metadata, as Iceberg readers do, instead
        of inferring it from the files: data dirs from the types recorded
        at write time (``schema.json`` ``dir-types``, see
        :meth:`_scan`), positional-delete files from their constant
        two-column schema, equality-delete files from the types their
        entry records.  Only dirs written before types were recorded
        are still inferred, one footer-merge job per scan.

        ``where`` (SQL string): row predicate, applied in full as a scan
        filter (pushed to parquet row-group skipping by Catalyst) — AND
        additionally used for MANIFEST-STYLE DIRECTORY PRUNING: each data
        dir carries per-column min/max bounds harvested from its parquet
        footers at write time (``_stats.json``); directories whose bounds
        provably cannot satisfy a conjunct are dropped at PLANNING time,
        before Spark lists a single file — the fallback's equivalent of
        Iceberg pruning manifests/data files by value ranges. Pruning is
        conservative: unparsable or non-prunable predicates (OR, NOT,
        functions, missing stats) skip nothing and rely on the row filter.

        Merge-on-read: if the selected snapshot carries positional delete
        files (``delete_where(mode="merge-on-read")``), the scan subtracts
        them by (file, pos) anti-join. Delete files are tiny relative to
        data (one 2-column row per deleted record), so AQE plans the
        anti-join as a broadcast — the distributed equivalent of Iceberg
        readers applying position deletes file-locally, with zero shuffle
        of the data side.

        ``with_address=True`` keeps the ``__file``/``__pos`` address
        columns in the output (internal: MOR delete/update write path).

        ``partition_values``: for a partitioned table, scan only these
        partition values (e.g. ``["2022-06-15", "2022-06-16"]`` for a
        ``day`` transform). Pruning happens at planning time — unwanted
        directories are never listed into the scan (verify with
        ``.explain``: the filter shows under PartitionFilters, not as a
        row-level predicate).
        """
        if ref is not None and (snapshot_id is not None or as_of_ms is not None):
            # Iceberg treats VERSION AS OF / TIMESTAMP AS OF and branch/tag
            # refs as mutually exclusive selectors; silently resolving
            # snapshot_id/as_of_ms along main while ignoring the ref would
            # return data from the wrong ref with no error.
            raise ValueError(
                "ref is mutually exclusive with snapshot_id/as_of_ms; "
                "travel within a branch by picking the snapshot id from "
                "its chain explicitly"
            )
        snaps = self._snapshots()
        if not snaps:
            raise FileNotFoundError(f"table {self.db}.{self.name} has no snapshots")
        mainline = self._mainline()
        snap = mainline[-1] if mainline else None
        if ref is not None:
            # named ref: branch head (staged state) or tag target
            refs = self._refs()
            if ref in refs["branches"]:
                snap = self.branch_head(ref)
                if snap is None:
                    raise FileNotFoundError(f"branch {ref} has no snapshots")
            elif ref in refs["tags"]:
                snapshot_id = refs["tags"][ref]["snapshot_id"]
            else:
                raise ValueError(f"unknown ref {ref}")
        if snap is None and snapshot_id is None and as_of_ms is None:
            raise FileNotFoundError(f"table {self.db}.{self.name} has no snapshots")
        explicit_travel = snapshot_id is not None or as_of_ms is not None
        if snapshot_id is not None:
            matching = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not matching:
                raise ValueError(f"snapshot {snapshot_id} not found (expired?)")
            snap = matching[0]
        elif as_of_ms is not None:
            # timestamp travel resolves along MAIN only (branch snapshots
            # were never the table state at any wall-clock time)
            eligible = [s for s in mainline if s["timestamp_ms"] <= as_of_ms]
            if not eligible:
                raise ValueError(f"no snapshot at or before {as_of_ms}")
            snap = eligible[-1]
        delete_dirs = snap.get("delete_dirs", [])
        eq_deletes = (
            snap.get("eq_delete_dirs", []) if apply_eq_deletes else []
        )
        # equality deletes need the __file address too (dir scoping)
        need_addr = with_address or bool(delete_dirs) or bool(eq_deletes)
        data_dirs = list(snap["data_dirs"])
        # field-id resolution: CURRENT reads (incl. branch heads) render
        # under the LIVE schema — Iceberg DDL is metadata-only and takes
        # effect immediately, so rename/drop with no subsequent write
        # must still show on the next read.  Only EXPLICIT time travel
        # (snapshot_id / as-of timestamp / tag) renders names AS OF the
        # snapshot's committed schema-id.
        schema_st = self._load_schema_state()
        if explicit_travel:
            eff_sid = snap.get("schema_id", schema_st["current-schema-id"])
        else:
            eff_sid = schema_st["current-schema-id"]
        projections = {
            d: self._dir_projection(schema_st, d, eff_sid) for d in data_dirs
        }
        renames = {d: p[0] for d, p in projections.items()}
        drops = {d: p[1] for d, p in projections.items()}
        addr = self._address if need_addr else None
        if where:
            conjuncts = _parse_conjuncts(where)
            if conjuncts:
                hc: dict = {}  # one literal-hash evaluation per read, not per dir
                kept = [
                    d for d in data_dirs
                    if self._dir_may_match(d, conjuncts, _hash_cache=hc)
                ]
                # all pruned: keep one dir for the schema — the row filter
                # empties it via row-group skipping without a full scan
                data_dirs = kept or data_dirs[:1]
        spec = self._partition_spec()
        if spec:
            # one scan per snapshot dir (each is its own partitioned root —
            # Spark refuses mixed partition discovery across roots); the
            # partition filter pushes through the union into every scan.
            # Partition evolution: a dir written under the CURRENT spec is
            # pruned via its __p directory column; a dir under an older
            # (or no) spec gets the equivalent residual row filter —
            # identical semantics, it just can't skip directories.
            vals = list(partition_values) if partition_values is not None else None
            # the O(touched)-listing fast path matches wanted values to
            # __p=<value> directory names literally; Spark URL-escapes
            # special characters when writing dir names, so only values
            # whose rendering is provably escape-free qualify (ints and
            # day/month strings — every bucket/mod/day partition).  An
            # unsafe value falls back to full discovery + filter: slower,
            # never wrong.
            # type gate besides the regex: Python's str() can disagree
            # with Spark's partition-dir rendering for non-int/str types
            # (bool True -> 'True' vs Spark's 'true'; float 5.0 vs an
            # int column's '5'), which would make the isdir probe miss a
            # REAL partition and silently drop its rows — only ints and
            # strings render identically on both sides.
            safe_vals = vals is not None and all(
                isinstance(v, (int, str))
                and not isinstance(v, bool)
                and _SAFE_PARTITION_VALUE.fullmatch(str(v))
                for v in vals
            )
            parts = []
            for d in data_dirs:
                if safe_vals and self._dir_spec(d) == spec:
                    # manifest-style O(touched) listing: ONLY the wanted
                    # __p= subdirectories are handed to the scan — the
                    # reader never lists (let alone plans over) the other
                    # partitions' files, matching Iceberg's manifest
                    # pruning.  (Before r12 this read the whole
                    # partitioned root and let Catalyst prune — correct,
                    # but partition DISCOVERY still listed every
                    # directory, a planning-time O(partitions) tax the
                    # cc probe measured at ~0.5 s per read at 256
                    # buckets.)  The residual isin filter keeps the
                    # PartitionFilters plan guarantee and exactness.
                    subs = [
                        os.path.join(d, f"__p={v}")
                        for v in vals
                        if os.path.isdir(os.path.join(d, f"__p={v}"))
                    ]
                    if not subs:
                        continue  # this dir holds none of the wanted values
                    p = self._scan(
                        [(self._dir_schema(schema_st, d), subs)], addr, d
                    )
                else:
                    p = self._scan_dirs(schema_st, [d], each=addr)
                if drops[d]:
                    p = p.drop(*drops[d])
                if renames[d]:
                    p = p.withColumnsRenamed(renames[d])
                if vals is not None:
                    if self._dir_spec(d) == spec:
                        src_type = dict(p.dtypes).get(spec["column"])
                        if spec["transform"] == "identity" and src_type:
                            # cast __p to the SOURCE column's declared
                            # type before comparing: partition discovery
                            # types __p by the dir VALUES (an all-digit-
                            # string identity partition comes back
                            # BIGINT), and under ANSI `bigint_col.isin(
                            # 'a b')` THROWS on the literal cast instead
                            # of matching nothing.  Casting __p (not
                            # filtering the source column) keeps the
                            # predicate on the partition column, so it
                            # stays a PLANNING-time PartitionFilter —
                            # directory skipping survives on the
                            # discovery fallback path.  (hypothesis-
                            # found; pinned by
                            # test_identity_partition_numeric_dirs_*)
                            p = p.filter(
                                F.col("__p").cast(src_type).isin(vals)
                            )
                        else:
                            # integer-domain transforms (mod<N>,
                            # bucket<N>, day/month strings round-trip):
                            # keep the typed compare — float 5.0 must
                            # match dir 5, bool-vs-int must fail LOUDLY
                            p = p.filter(F.col("__p").isin(vals))
                    else:
                        expr = _transform_fn(spec["transform"])(spec["column"])
                        p = p.filter(expr.isin(vals))
                if "__p" in p.columns:
                    p = p.drop("__p")
                parts.append(p)
            if not parts:
                # every wanted value was absent from every dir: an empty
                # result under the live schema (one full-dir plan,
                # emptied by a false filter — never evaluated eagerly)
                d0 = data_dirs[0]
                p = self._scan_dirs(schema_st, [d0], each=addr).filter(F.lit(False))
                if drops[d0]:
                    p = p.drop(*drops[d0])
                if renames[d0]:
                    p = p.withColumnsRenamed(renames[d0])
                parts = [p.drop("__p") if "__p" in p.columns else p]
            df = parts[0]
            for p in parts[1:]:
                # allowMissingColumns = additive schema evolution: rows
                # written before a column existed read back as null
                df = df.unionByName(p, allowMissingColumns=True)
            return self._apply_deletes(
                df, delete_dirs, with_address, where, eq_deletes,
                eff_schema_id=eff_sid,
            )
        if partition_values is not None:
            raise ValueError("table is not partitioned")
        if any(renames.values()) or any(drops.values()):
            # rename/drop-bearing history: scan per PROJECTION GROUP
            # (dirs sharing a remap+dropset read together — the identity
            # majority still scans as one group), drop retired-id
            # columns, rename by field id, then union by name.  Iceberg
            # readers do the same resolution per file.
            groups: dict[tuple, list[str]] = {}
            for d in data_dirs:
                key = (
                    tuple(sorted(renames[d].items())),
                    tuple(sorted(drops[d])),
                )
                groups.setdefault(key, []).append(d)
            parts = []
            for (ren, drp), ds in groups.items():
                p = self._scan_dirs(schema_st, ds, each=addr)
                if drp:
                    p = p.drop(*drp)
                if ren:
                    p = p.withColumnsRenamed(dict(ren))
                parts.append(p)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
            return self._apply_deletes(
                df, delete_dirs, with_address, where, eq_deletes,
                eff_schema_id=eff_sid,
            )
        # the union of every dir's schema (additive schema evolution:
        # rows written before a column existed read null); dirs that
        # disagree on a type (int→long, float→double, which Iceberg
        # schema evolution allows) scan one by one and unionByName
        # widens — see _scan
        df = self._scan_dirs(schema_st, data_dirs, each=addr)
        return self._apply_deletes(
            df, delete_dirs, with_address, where, eq_deletes,
            eff_schema_id=eff_sid,
        )

    def _literal_hash(
        self, val: object, dtype: str, cache: dict | None = None
    ) -> int | None:
        """``xxhash64`` of a predicate literal CAST to the bloomed
        column's type.  The common literal×type pairs (str×string,
        int×integral with the CAST range check) are computed in Python
        via the property-tested replication in ``lakehouse/xxh64.py`` —
        zero Spark jobs on the planning path; anything else falls back
        to asking Spark on a literal-only 1-row plan (no scan, no
        shuffle).  ``None`` (uncastable literal / evaluation failure)
        means "can't reason" — the caller must keep the dir.  ``cache``
        memoizes across the directories of one read."""
        h = _xxh.spark_xxhash64(val, dtype)
        if h is not None:
            return h
        key = (repr(val), dtype)
        if cache is not None and key in cache:
            return cache[key]
        try:
            lit = F.lit(val).cast(dtype)
            row = self.spark.range(1).select(
                lit.isNull().alias("n"), F.xxhash64(lit).alias("h")
            ).collect()[0]
            h = None if row.n else row.h
        except Exception:
            h = None
        if cache is not None:
            cache[key] = h
        return h

    def _dir_may_match(
        self,
        d: str,
        conjuncts: list[tuple[str, str, object]],
        _hash_cache: dict | None = None,
    ) -> bool:
        """Can any row in directory ``d`` satisfy every conjunct? False
        only on PROOF of emptiness — from the dir's min/max bounds, or
        (equality conjuncts on bloomed columns) from its Bloom filters."""
        stats_path = os.path.join(d, "_stats.json")
        if not os.path.exists(stats_path):
            return True  # pre-stats dir: not prunable
        with open(stats_path) as f:
            bounds = json.load(f).get("cols", {})
        bloom_path = os.path.join(d, "_blooms.json")
        if any(
            op in ("=", "==", "in") for _, op, _v in conjuncts
        ) and os.path.exists(bloom_path):
            with open(bloom_path) as f:
                blooms = json.load(f)
            for col, op, val in conjuncts:
                if op not in ("=", "==", "in") or col not in blooms:
                    continue
                b = blooms[col]
                bits = base64.b64decode(b["b64"])
                members = val if op == "in" else (val,)
                absent = True  # provably absent until a member might hit
                for v in members:
                    h = self._literal_hash(v, b["type"], _hash_cache)
                    if h is None or _bloom_contains(bits, b["m"], b["k"], h):
                        absent = False
                        break
                if absent:
                    return False  # no member can be in this dir
        for col, op, val in conjuncts:
            if col not in bounds:
                continue
            mn, mx = bounds[col]
            if op == "in":
                may = False
                for v in val:
                    if isinstance(v, str) != isinstance(mn, str):
                        may = True  # mixed types: don't reason about v
                        break
                    if mn <= v <= mx:
                        may = True
                        break
                if not may:
                    return False  # every member outside the bounds
                continue
            if isinstance(val, str) != isinstance(mn, str):
                continue  # type mismatch: don't reason, don't prune
            if op in ("=", "==") and (val < mn or val > mx):
                return False
            if op == ">" and mx <= val:
                return False
            if op == ">=" and mx < val:
                return False
            if op == "<" and mn >= val:
                return False
            if op == "<=" and mn > val:
                return False
        return True

    def _apply_deletes(
        self,
        df: DataFrame,
        delete_dirs: list[str],
        with_address: bool,
        where: str | None = None,
        eq_deletes: list[dict] | None = None,
        eff_schema_id: int | None = None,
    ) -> DataFrame:
        """Row filter + positional/equality-delete subtraction for a scan."""
        if where:
            # the FULL predicate always runs as a row filter (pruning is
            # only an accelerator); filtering before the anti-join keeps
            # the delete probe small and commutes with the subtraction
            df = df.filter(F.expr(where))
        if delete_dirs:
            # no forced broadcast: delete files are usually tiny (AQE
            # broadcasts them), but after heavy churn without
            # rewrite_position_deletes() the set can grow past the
            # threshold — then a shuffled anti-join is the correct plan,
            # not an OOM
            df = df.join(
                self._read_pos_deletes(delete_dirs), ["__file", "__pos"], "left_anti"
            )
        df = self._apply_eq_deletes(
            df, eq_deletes or [], eff_schema_id=eff_schema_id
        )
        if not with_address and "__file" in df.columns:
            df = df.drop("__file", "__pos")
        return df

    #: every positional-delete file holds exactly these two columns
    _POS_DELETE_SCHEMA = "__file string, __pos long"

    def _read_pos_deletes(self, paths: list[str]) -> DataFrame:
        """The ``(__file, __pos)`` rows of positional-delete dirs or
        files, scanned with the constant schema (nothing inferred)."""
        return self.spark.read.schema(self._POS_DELETE_SCHEMA).parquet(*paths)

    def _apply_eq_deletes(
        self,
        df: DataFrame,
        eq_deletes: list[dict],
        invert: bool = False,
        eff_schema_id: int | None = None,
    ) -> DataFrame:
        """Iceberg v2 EQUALITY-delete subtraction (K6/T8 extension —
        the CDC ``tp=delete`` shape the reference drops,
        dim/DimDataToHBase.scala:67): each entry's parquet dir holds KEY
        ROWS; a data row is dead iff its key matches one of them
        (null-safe, per the spec: an equality field that is null matches
        null) AND the row's data dir was live when the delete committed
        (``applies_to_dirs`` — the dir-granular rendering of the spec's
        sequence-number scoping, so rows appended later with the same
        key survive).  ``df`` must carry the ``__file`` address column.

        Scale shape: entries are grouped by equality-column set (stored
        names + the names they resolve to), and each group costs ONE key
        read over all its dirs, ONE aggregation and ONE join, however
        many delete files the snapshot carries — the Spark job count of
        a read does not grow with the debt.  Each key row is tagged with
        its delete dir (``_metadata.file_path``) and aggregated to the
        set of delete dirs holding that key (the dedup); the data joins
        that relation once, null-safe, and a row is dead iff one of its
        key's delete dirs applies to the row's data dir.  The
        delete-dir → applies-to-dirs map is a plan literal, not another
        joined relation.  The key relation is O(deleted keys) — usually
        tiny (AQE broadcasts the join); zero table rewrite at delete
        time.  The delete columns are resolved by FIELD ID against the
        schema the scan was RENDERED under (``eff_schema_id``; live
        schema when None) — renames after the delete don't orphan it,
        and explicit time travel to a pre-rename snapshot joins on the
        names that snapshot's scan actually carries.

        ``invert=True`` returns only the rows the deletes HIDE (matched
        AND in scope) — the same marked scan, filtered the other way;
        the maintenance path (:meth:`convert_equality_deletes`)
        materializes their row addresses as positional deletes."""
        # an entry scoped to no data dir hides nothing
        eq_deletes = [e for e in eq_deletes if e.get("applies_to_dirs")]
        if not eq_deletes:
            return df.limit(0) if invert else df
        schema_st = self._load_schema_state()
        sid = (
            eff_schema_id
            if eff_schema_id is not None
            else schema_st["current-schema-id"]
        )
        eff_fields = self._fields_of(schema_st, sid)
        by_id = {f["id"]: f["name"] for f in eff_fields if "id" in f}
        groups: dict[tuple, list[dict]] = {}
        for e in eq_deletes:
            ids = e.get("field_ids") or []
            cols = [
                by_id.get(i, c) for i, c in zip(ids, e["cols"])
            ] if ids else list(e["cols"])
            groups.setdefault((tuple(e["cols"]), tuple(cols)), []).append(e)
        dead = F.lit(False)
        helper_cols: list[str] = []
        for g, ((stored, cols), entries) in enumerate(groups.items()):
            kcols = [f"__eqk{g}_{i}" for i in range(len(cols))]
            dels_col = f"__eqdels{g}"
            keys = (
                self._read_eq_keys(entries, list(stored))
                .groupBy(*[F.col(s).alias(k) for s, k in zip(stored, kcols)])
                .agg(F.collect_set("__eqdir").alias(dels_col))
            )
            cond = F.lit(True)
            for c, k in zip(cols, kcols):
                cond = cond & F.col(c).eqNullSafe(F.col(k))
            df = df.join(keys, cond, "left")
            # delete-dir basename → the "/<data dir basename>/" fragments
            # it applies to; __file is a file:// URI while dirs are plain
            # paths, so scope on the dir's uuid basename, unique within
            # the table
            scope = F.create_map(*[
                x
                for e in entries
                for x in (
                    F.lit(os.path.basename(e["dir"].rstrip("/"))),
                    F.array(*[
                        F.lit("/" + os.path.basename(d.rstrip("/")) + "/")
                        for d in e["applies_to_dirs"]
                    ]),
                )
            ])
            dead = dead | F.coalesce(
                F.exists(
                    F.col(dels_col),
                    lambda x: F.exists(
                        scope[x], lambda s: F.col("__file").contains(s)
                    ),
                ),
                F.lit(False),
            )
            helper_cols += kcols + [dels_col]
        return df.filter(dead if invert else ~dead).drop(*helper_cols)

    def _read_eq_keys(self, entries: list[dict], cols: list[str]) -> DataFrame:
        """The key rows of equality-delete ``entries`` (all written under
        the same column names ``cols``), each tagged ``__eqdir`` with the
        basename of the delete dir it came from.  Each entry records its
        key file's own column types (``types``), so the key dirs scan
        without inference — one scan over every dir, or one per dir,
        unioned (which widens), where the dirs disagree on a type (an
        int key file next to a long one), like :meth:`read` does for
        data dirs.  Entries committed before types were recorded are
        inferred."""

        def tagged(p: DataFrame) -> DataFrame:
            return p.select(
                *cols,
                F.regexp_extract(
                    "_metadata.file_path", r"([^/]+)/[^/]+$", 1
                ).alias("__eqdir"),
            )

        def key_schema(e: dict) -> StructType | None:
            if "types" not in e:
                return None
            return _struct((c, t, {}) for c, t in zip(cols, e["types"]))

        return self._scan([(key_schema(e), [e["dir"]]) for e in entries], tagged)

    def delete_by_key(
        self, keys: DataFrame, cols: list[str] | None = None
    ) -> dict:
        """Iceberg v2 EQUALITY DELETE: mark every current row whose
        ``cols`` values match a row of ``keys`` as deleted — WITHOUT
        reading the table (write cost O(keys), the property positional
        MOR can't offer: ``delete_where(mode="merge-on-read")`` must
        scan to find row positions; this just writes the key file and
        commits).  At 100 TB this is the only delete shape whose cost
        is independent of table size — the CDC ``tp=delete`` stream
        applies as fast as it arrives.

        ``keys``: DataFrame whose columns (or ``cols``, a subset) are
        the equality columns.  The delete applies to data directories
        present at commit time only — rows appended LATER with the same
        key survive, per the spec's sequence-number scoping.  Folded
        out by :meth:`compact` / any copy-on-write rewrite; time travel
        to earlier snapshots still sees the rows."""
        cols = list(cols or keys.columns)
        key_df = keys.select(*cols).dropDuplicates()
        if self.current_snapshot() is None:
            raise FileNotFoundError(
                f"table {self.db}.{self.name} has no snapshots"
            )
        # the key parquet is written ONCE, before the CAS loop: a retry
        # only re-reads the new head and recomputes the snapshot-scoped
        # metadata (applies_to_dirs, field ids) — re-writing the dir per
        # attempt would strand an orphan dir under eq-deletes/ for every
        # lost race until remove_orphan_files
        d = os.path.join(self.eq_deletes_root, uuid.uuid4().hex)
        key_df.write.mode("overwrite").parquet(d)
        # the key file's own types, so reads scan it without inference
        types = [key_df.schema[c].dataType.jsonValue() for c in cols]

        def attempt(cur):
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.db}.{self.name} has no snapshots"
                )
            st = self._load_schema_state()
            by_name = {
                f["name"]: f.get("id")
                for f in self._fields_of(st, st["current-schema-id"])
            }
            # guard the drop_column↔delete_by_key race in THIS direction
            # too: if a concurrent drop_column committed first, a key
            # column may no longer exist in the live schema — committing
            # the entry would strand field_ids=[None] with a name absent
            # from every later schema, and _apply_eq_deletes's name
            # fallback would raise on ALL subsequent reads.  Refuse the
            # commit instead; the rmtree cleanup below removes the key
            # dir (ADVICE r7, tableformat.py:1956).
            missing = [c for c in cols if by_name.get(c) is None]
            if missing:
                raise ValueError(
                    f"delete_by_key: key column(s) {missing} not in the "
                    f"current schema of {self.db}.{self.name} (a "
                    "drop_column may have committed concurrently)"
                )
            with open(os.path.join(d, "_eq.json"), "w") as f:
                json.dump(
                    {"cols": cols, "field_ids": [by_name.get(c) for c in cols]},
                    f,
                )
            entry = {
                "dir": d,
                "cols": cols,
                "field_ids": [by_name.get(c) for c in cols],
                "types": types,
                "applies_to_dirs": list(cur["data_dirs"]),
            }
            return self._commit(
                "delete",
                list(cur["data_dirs"]),
                delete_dirs=list(cur.get("delete_dirs", [])),
                eq_delete_dirs=list(cur.get("eq_delete_dirs", [])) + [entry],
                expected_parent_id=self._cas_id(cur),
            )

        try:
            return self._retry_cas(attempt)
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)  # don't orphan on failure
            raise

    def upsert_by_key(
        self,
        updates: DataFrame,
        key_cols: list[str],
        batch_id: str | None = None,
    ) -> dict:
        """Iceberg v2 CDC UPSERT — ONE atomic commit carrying an
        equality-delete file on ``key_cols`` (hiding every current row
        whose key appears in ``updates``) plus a data file with the
        applied rows: write cost O(updates), and — unlike :meth:`merge`
        in either mode — ZERO scans of the table at write time
        (copy-on-write rewrites everything; positional merge-on-read
        must scan to find row addresses).  This is exactly the shape
        Iceberg's Flink CDC writer commits per checkpoint (equality
        deletes + data files in one snapshot), and at 100 TB it is the
        only upsert whose cost is independent of table size — the write
        half of the incremental-maintenance tier
        (``connected_components_incremental_bucketed`` applies its MERGE
        payload through here).  Reference parity: the Phoenix upsert
        sink (utils/MyPhoenixUtil / dim/DimDataToHBase.scala:79-110)
        applies each micro-batch as key-addressed upserts; this is that
        sink against the snapshot table format.

        Semantics match ``MERGE … WHEN MATCHED UPDATE WHEN NOT MATCHED
        INSERT`` with last-writer-wins per key inside ``updates``.  The
        equality delete is scoped to the data dirs present at commit
        time (sequence-number scoping), so the applied rows — committed
        in the SAME snapshot — are not hidden by it.  Each upsert adds
        one equality-delete file; a read scans the accumulated key files
        once per equality-column set (one key scan, aggregation and join
        however many files), so the debt grows the key relation and the
        scope literal, not the job count;
        :meth:`convert_equality_deletes` + :meth:`compact` (or
        :meth:`maintain`) fold the debt down, same as Iceberg's
        rewrite-deletes + rewrite-data maintenance.

        ``batch_id``: stamp the commit with a replay token (see
        :meth:`has_batch`) — foreachBatch sinks get exactly-once by
        checking it before calling.  Returns the committed snapshot."""
        w_last = F.row_number().over(
            Window.partitionBy(*key_cols).orderBy(
                F.monotonically_increasing_id().desc()
            )
        )
        applied = (
            updates.withColumn("__rn", w_last)
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if updates.isEmpty():
            # no-op upsert (e.g. a replayed maintenance batch whose
            # payload drained to nothing): commit nothing — an empty
            # partitioned data dir would not even be re-readable.  The
            # batch_id is deliberately NOT stamped: a replay recomputes
            # the same empty payload, which is already idempotent.
            return self.current_snapshot() or {}
        if self.current_snapshot() is None:
            # empty table: the upsert degenerates to a plain append (no
            # rows to hide); still batch-stamped for replay safety
            new_dir = self._write_data(applied)
            return self._commit(
                "append", [new_dir], batch_id=batch_id,
                expected_parent_id=None,
            )
        # both dirs are written ONCE, before the CAS loop (a retry only
        # recomputes snapshot-scoped metadata — same rationale as
        # delete_by_key's key dir)
        eq_dir = os.path.join(self.eq_deletes_root, uuid.uuid4().hex)
        eq_keys = applied.select(*key_cols).dropDuplicates()
        eq_keys.write.mode("overwrite").parquet(eq_dir)
        types = [eq_keys.schema[c].dataType.jsonValue() for c in key_cols]
        new_dir = self._write_data(applied)

        def attempt(cur):
            if cur is None:
                # the table was emptied between the check and the commit:
                # the upsert degrades to a plain append that never
                # references eq_dir — reclaim it here or it would be
                # orphaned on disk by the SUCCESSFUL commit (the rmtree
                # below only runs on exceptions)
                shutil.rmtree(eq_dir, ignore_errors=True)
                return self._commit(
                    "append", [new_dir], batch_id=batch_id,
                    expected_parent_id=None,
                )
            st = self._load_schema_state()
            by_name = {
                f["name"]: f.get("id")
                for f in self._fields_of(st, st["current-schema-id"])
            }
            missing = [c for c in key_cols if by_name.get(c) is None]
            if missing:
                raise ValueError(
                    f"upsert_by_key: key column(s) {missing} not in the "
                    f"current schema of {self.db}.{self.name}"
                )
            with open(os.path.join(eq_dir, "_eq.json"), "w") as f:
                json.dump(
                    {
                        "cols": list(key_cols),
                        "field_ids": [by_name.get(c) for c in key_cols],
                    },
                    f,
                )
            entry = {
                "dir": eq_dir,
                "cols": list(key_cols),
                "field_ids": [by_name.get(c) for c in key_cols],
                "types": types,
                # scope: dirs live BEFORE this commit — the new data dir
                # is deliberately absent, so the applied rows survive
                "applies_to_dirs": list(cur["data_dirs"]),
            }
            return self._commit(
                "merge",
                list(cur["data_dirs"]) + [new_dir],
                batch_id=batch_id,
                delete_dirs=list(cur.get("delete_dirs", [])),
                eq_delete_dirs=list(cur.get("eq_delete_dirs", [])) + [entry],
                expected_parent_id=self._cas_id(cur),
            )

        try:
            return self._retry_cas(attempt)
        except BaseException:
            shutil.rmtree(eq_dir, ignore_errors=True)
            shutil.rmtree(new_dir, ignore_errors=True)
            raise

    def compact(self, target_partitions: int | None = None) -> dict:
        """M1: rewrite_data_files — many small dirs → one rewritten dir.
        CAS-guarded: an append landing while the rewrite runs fails the
        commit and the compaction re-reads the new head, so the append's
        directories are never dropped from the compacted snapshot."""

        def attempt(cur):
            df = self.read()
            if target_partitions:
                df = df.repartition(target_partitions)
            new_dir = self._write_data(df)
            return self._commit(
                "compact", [new_dir], expected_parent_id=self._cas_id(cur)
            )

        return self._retry_cas(attempt)

    def rollback(self, snapshot_id: int) -> dict:
        """Iceberg-style rollback: make an OLD snapshot current again by
        committing a new snapshot that references its data dirs (history
        is preserved — rollback is itself an auditable commit, and the
        rolled-back-over snapshots remain time-travelable until expiry).
        Mistake recovery: bad write → ``rollback(last_good)``.

        Intentionally NOT CAS-guarded: like :meth:`overwrite`, the new
        snapshot is the TARGET's state regardless of the current head —
        re-pointing past whatever landed in between is the contract."""
        target = next(
            (s for s in self._snapshots() if s["snapshot_id"] == snapshot_id), None
        )
        if target is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        return self._commit(
            "rollback",
            list(target["data_dirs"]),
            delete_dirs=list(target.get("delete_dirs", [])),
            eq_delete_dirs=list(target.get("eq_delete_dirs", [])),
        )

    # -- refs: branches, tags, write-audit-publish ------------------------
    def _refs(self) -> dict:
        if not os.path.exists(self.refs_path):
            return {"branches": {}, "tags": {}}
        with open(self.refs_path) as f:
            return json.load(f)

    def _write_refs(self, refs: dict) -> None:
        tmp = self.refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f)
        os.replace(tmp, self.refs_path)

    def create_branch(self, name: str) -> None:
        """Named branch forked from the CURRENT main snapshot (Iceberg
        ``createBranch``).  Branch commits share main's id space and
        snapshot log but stay invisible to main readers until
        :meth:`fast_forward` publishes them."""
        refs = self._refs()
        if name in refs["branches"]:
            raise ValueError(f"branch {name} already exists")
        cur = self.current_snapshot()
        refs["branches"][name] = {
            "base_snapshot_id": cur["snapshot_id"] if cur else None
        }
        self._write_refs(refs)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named pointer to a snapshot (Iceberg ``createTag``) —
        e.g. tag the audited snapshot a training run consumed, so the
        exact corpus stays addressable after later appends."""
        refs = self._refs()
        if name in refs["tags"]:
            raise ValueError(f"tag {name} already exists")
        if snapshot_id is None:
            cur = self.current_snapshot()
            if cur is None:
                raise FileNotFoundError("table has no snapshots to tag")
            snapshot_id = cur["snapshot_id"]
        elif all(s["snapshot_id"] != snapshot_id for s in self._snapshots()):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        refs["tags"][name] = {"snapshot_id": snapshot_id}
        self._write_refs(refs)

    def branch_head(self, name: str) -> dict | None:
        """Latest snapshot on a branch: its newest own commit, else the
        main snapshot it forked from, else None (branch off empty)."""
        refs = self._refs()
        if name not in refs["branches"]:
            raise ValueError(f"unknown branch {name}")
        own = [s for s in self._snapshots() if s.get("branch") == name]
        if own:
            return own[-1]
        base = refs["branches"][name]["base_snapshot_id"]
        if base is None:
            return None
        return next(s for s in self._snapshots() if s["snapshot_id"] == base)

    def drop_branch(self, name: str) -> int:
        """Delete a branch ref and its snapshots (abandoned staging data
        becomes unreferenced; ``remove_orphan_files`` reclaims it).
        Returns the number of snapshots dropped."""
        refs = self._refs()
        if name not in refs["branches"]:
            raise ValueError(f"unknown branch {name}")
        own = [s for s in self._snapshots() if s.get("branch") == name]
        for s in own:
            os.remove(os.path.join(self.snap_dir, f"snap-{s['snapshot_id']:09d}.json"))
        del refs["branches"][name]
        self._write_refs(refs)
        return len(own)

    def fast_forward(self, branch: str) -> dict:
        """Publish a branch to main (Iceberg ``fast_forward`` — the
        publish half of write-audit-publish).  Requires main not to have
        advanced past the branch's fork point (a true fast-forward);
        otherwise raises — rebase by re-staging against current main.
        The publish is itself an auditable main commit referencing the
        branch head's exact data dirs."""
        refs = self._refs()
        if branch not in refs["branches"]:
            raise ValueError(f"unknown branch {branch}")
        head = self.branch_head(branch)
        if head is None:
            raise ValueError(f"branch {branch} has no snapshots")
        cur = self.current_snapshot()
        base = refs["branches"][branch]["base_snapshot_id"]
        cur_id = cur["snapshot_id"] if cur else None
        if cur_id != base:
            raise ValueError(
                f"main advanced past branch fork point ({base} -> {cur_id}); "
                "not a fast-forward"
            )
        published = self._commit(
            "publish",
            list(head["data_dirs"]),
            delete_dirs=list(head.get("delete_dirs", [])),
            eq_delete_dirs=list(head.get("eq_delete_dirs", [])),
        )
        # advance the ref to the publish point (Iceberg's fast_forward
        # moves the ref): the branch stays usable for the next
        # stage→publish cycle instead of being permanently stale
        refs = self._refs()
        refs["branches"][branch]["base_snapshot_id"] = published["snapshot_id"]
        self._write_refs(refs)
        return published

    def write_audit_publish(self, df: DataFrame, audit_fn) -> tuple[bool, dict]:
        """The WAP pattern end-to-end: stage ``df`` as an append on an
        anonymous branch, run ``audit_fn(staged_read_df) -> bool`` against
        the WOULD-BE table state, and publish to main only on approval.
        Failed audits leave main untouched and the staged branch in place
        for inspection (drop it to reclaim).  Returns
        (published, staged_or_published_snapshot)."""
        branch = f"wap-{uuid.uuid4().hex[:12]}"
        self.create_branch(branch)
        try:
            staged = self.append(df, branch=branch)
            ok = bool(audit_fn(self.read(ref=branch)))
        except BaseException:
            # a crashing audit (vs a rejecting one) must not leak the
            # anonymous branch: the caller never learns its name, and a
            # leaked live branch pins its snapshots from expiry forever
            self.drop_branch(branch)
            raise
        if not ok:
            return False, staged
        published = self.fast_forward(branch)
        self.drop_branch(branch)
        return True, published

    def has_batch(self, batch_id: str) -> bool:
        """True if a snapshot already recorded this ``batch_id`` (the
        :meth:`idempotent_append` marker) — lets a multi-table
        ``foreachBatch`` sink detect a fully-committed prior attempt and
        skip recomputation on replay (the last table written is the
        batch's commit token)."""
        return any(s.get("batch_id") == batch_id for s in self._snapshots())

    def idempotent_append(self, df: DataFrame, batch_id: str) -> dict | None:
        """Exactly-once streaming append: skip if a snapshot already
        recorded this ``batch_id`` (what the Iceberg Spark sink does by
        stamping queryId/batchId into the snapshot summary). Use from
        ``foreachBatch`` with ``f"{query_id}-{epoch_id}"`` — a micro-batch
        retried after a successful append but before the checkpoint commit
        re-enters here and becomes a no-op instead of a double write.

        Returns the commit dict, or None when the batch was already
        committed."""
        if any(s.get("batch_id") == batch_id for s in self._snapshots()):
            return None
        new_dir = self._write_data(df)
        for attempt in range(self._APPEND_MAX_RETRIES + 1):
            # a concurrent committer may have landed THIS batch while we
            # were conflicting — idempotency check again on every retry
            if any(s.get("batch_id") == batch_id for s in self._snapshots()):
                return None
            cur = self.current_snapshot()
            dirs = (cur["data_dirs"] if cur else []) + [new_dir]
            try:
                return self._commit(
                    "append",
                    dirs,
                    batch_id=batch_id,
                    delete_dirs=list(cur.get("delete_dirs", [])) if cur else [],
                    eq_delete_dirs=list(cur.get("eq_delete_dirs", [])) if cur else [],
                    expected_parent_id=cur["snapshot_id"] if cur else None,
                )
            except CommitConflictError:
                if attempt == self._APPEND_MAX_RETRIES:
                    raise
                time.sleep(0.005 * (attempt + 1))

    def history_df(self) -> DataFrame:
        """Iceberg-style ``history``/``snapshots`` metadata table: one row
        per snapshot (id, timestamp, operation, #data dirs) — the
        DataFrame view of :meth:`history`. Driver-side manifest metadata
        only — never touches data files."""
        rows = [
            (
                s["snapshot_id"],
                s["timestamp_ms"],
                s.get("operation", ""),
                len(s["data_dirs"]),
                s.get("summary", {}).get("added-records"),
                s.get("summary", {}).get("total-records"),
                s.get("summary", {}).get("total-position-deletes"),
            )
            for s in self._snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, timestamp_ms long, operation string, "
            "n_data_dirs int, added_records long, total_records long, "
            "total_position_deletes long",
        )

    def files(self) -> DataFrame:
        """Iceberg-style ``files`` metadata table for the CURRENT snapshot:
        one row per data file with its size — what compaction policies and
        scan planners read."""
        import glob as _glob

        cur = self.current_snapshot()
        rows = []
        if cur:
            for d in cur["data_dirs"]:
                for f in _glob.glob(os.path.join(d, "*.parquet")):
                    rows.append((f, os.path.getsize(f)))
        return self.spark.createDataFrame(rows, ["file_path", "size_bytes"])

    def delete_where(self, condition, mode: str = "copy-on-write") -> dict:
        """DELETE FROM t WHERE …, in either Iceberg write mode.

        ``copy-on-write`` (v1 semantics, default): rewrite the table
        without matching rows. At scale the rewrite touches only files
        whose min-max stats intersect the predicate — here the snapshot
        is rewritten whole, the semantics are identical. Best when
        deletes are rare and reads are hot.

        ``merge-on-read`` (v2 semantics): write a POSITIONAL DELETE file
        — (file, pos) addresses of matching rows, from Spark's
        ``_metadata`` struct — and commit the SAME data dirs plus the
        delete file. Write cost is O(matched rows), not O(table); readers
        subtract the deletes with an anti-join (see :meth:`read`). Best
        for frequent small deletes (CDC, GDPR erasure); run
        :meth:`rewrite_position_deletes` / :meth:`compact` periodically
        to fold deletes back into data files.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError("mode must be 'copy-on-write' or 'merge-on-read'")

        # CAS-guarded: the delete is computed against the head it read;
        # a commit landing in the gap forces a recompute on the new base
        def attempt(cur):
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.db}.{self.name} has no snapshots"
                )
            if mode == "merge-on-read":
                matched = (
                    self.read(with_address=True)
                    .filter(cond)
                    .select("__file", "__pos")
                )
                del_dir = os.path.join(self.deletes_root, uuid.uuid4().hex)
                matched.write.mode("overwrite").parquet(del_dir)
                return self._commit(
                    "delete",
                    list(cur["data_dirs"]),
                    delete_dirs=list(cur.get("delete_dirs", [])) + [del_dir],
                    eq_delete_dirs=list(cur.get("eq_delete_dirs", [])),
                    expected_parent_id=self._cas_id(cur),
                )
            remaining = self.read().filter(~cond)
            new_dir = self._write_data(remaining)
            return self._commit(
                "delete", [new_dir], expected_parent_id=self._cas_id(cur)
            )

        return self._retry_cas(attempt)

    def update_where(
        self, condition, assignments: dict, mode: str = "copy-on-write"
    ) -> dict:
        """UPDATE ... SET with ``assignments`` (col -> Column/SQL expr)
        applied to matching rows, in either Iceberg write mode.

        SQL UPDATE semantics: the condition AND every RHS expression are
        evaluated against the ORIGINAL row, in one projection — never
        against already-updated columns.  (Sequential ``withColumn`` would
        re-resolve the condition after the first assignment mutates a
        column it references: ``UPDATE SET v=0, w=1 WHERE v>5`` on
        (v=10, w=0) must yield (0, 1), not (0, 0).)

        ``merge-on-read``: Iceberg v2 MOR UPDATE = one positional delete
        file for the matched rows' old versions + one data file with
        their new versions. Write cost O(matched), not O(table); the
        unmatched rows are never rewritten.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        exprs = {
            col: (F.expr(e) if isinstance(e, str) else e)
            for col, e in assignments.items()
        }
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError("mode must be 'copy-on-write' or 'merge-on-read'")

        def attempt(cur):
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.db}.{self.name} has no snapshots"
                )
            if mode == "merge-on-read":
                matched = self.read(with_address=True).filter(cond)
                del_dir = os.path.join(self.deletes_root, uuid.uuid4().hex)
                matched.select("__file", "__pos").write.mode("overwrite").parquet(
                    del_dir
                )
                data_cols = [
                    c for c in matched.columns if c not in ("__file", "__pos")
                ]
                updated = matched.select(
                    *[
                        (exprs[c].alias(c) if c in exprs else F.col(c))
                        for c in data_cols
                    ]
                )
                new_dir = self._write_data(updated)
                return self._commit(
                    "update",
                    list(cur["data_dirs"]) + [new_dir],
                    delete_dirs=list(cur.get("delete_dirs", [])) + [del_dir],
                    eq_delete_dirs=list(cur.get("eq_delete_dirs", [])),
                    expected_parent_id=self._cas_id(cur),
                )
            df = self.read()
            projection = [
                F.when(cond, exprs[c]).otherwise(F.col(c)).alias(c)
                if c in exprs
                else F.col(c)
                for c in df.columns
            ]
            new_dir = self._write_data(df.select(*projection))
            return self._commit(
                "update", [new_dir], expected_parent_id=self._cas_id(cur)
            )

        return self._retry_cas(attempt)

    def rewrite_position_deletes(self) -> dict | None:
        """Iceberg ``rewrite_position_deletes``: fold the accumulated
        positional delete files into ONE deduplicated delete file so the
        reader-side anti-join probes a single small relation again. Data
        files are untouched (that's :meth:`compact`, which materializes
        deletes entirely). No-op (returns None) without deletes."""
        def attempt(cur):
            if not cur or not cur.get("delete_dirs"):
                return None
            dels = self._read_pos_deletes(cur["delete_dirs"]).distinct()
            del_dir = os.path.join(self.deletes_root, uuid.uuid4().hex)
            dels.write.mode("overwrite").parquet(del_dir)
            return self._commit(
                "rewrite_position_deletes",
                list(cur["data_dirs"]),
                delete_dirs=[del_dir],
                eq_delete_dirs=list(cur.get("eq_delete_dirs", [])),
                expected_parent_id=self._cas_id(cur),
            )

        return self._retry_cas(attempt)

    def convert_equality_deletes(self) -> dict | None:
        """Maintenance: convert accumulated EQUALITY deletes into ONE
        positional delete file (Iceberg's planned convert action; the
        middle step of the delete lifecycle this fallback implements:
        write-cheap equality file at ingest → read-cheap positional file
        at maintenance → folded entirely at compaction).

        Equality deletes cost a key scan, aggregation and hash join per
        equality-column set on every read; after enough reads that
        recurring cost exceeds the one-time scan this action pays to
        materialize the hidden rows' (file, pos) addresses.  The
        conversion is the same marked scan a read runs, filtered to the
        rows the deletes hide.
        Data files are untouched, time travel is unaffected (history
        snapshots keep their own delete state), and the read result is
        byte-identical before/after.  No-op (None) without equality
        deletes."""

        def attempt(cur):
            if not cur or not cur.get("eq_delete_dirs"):
                return None
            # full scan with positional deletes applied but equality
            # deletes SKIPPED, then invert the eq filter: exactly the
            # rows the eq deletes hide, as row addresses
            base = self.read(with_address=True, apply_eq_deletes=False)
            hidden = self._apply_eq_deletes(
                base, cur["eq_delete_dirs"], invert=True
            ).select("__file", "__pos")
            existing = cur.get("delete_dirs", [])
            if existing:
                hidden = hidden.unionByName(self._read_pos_deletes(existing))
            # the dedup's exchange also sizes the output: AQE coalesces
            # it to a few delete files, not one per data scan partition
            hidden = hidden.dropDuplicates(["__file", "__pos"])
            del_dir = os.path.join(self.deletes_root, uuid.uuid4().hex)
            hidden.write.mode("overwrite").parquet(del_dir)
            return self._commit(
                "convert_equality_deletes",
                list(cur["data_dirs"]),
                delete_dirs=[del_dir],
                eq_delete_dirs=[],
                expected_parent_id=self._cas_id(cur),
            )

        return self._retry_cas(attempt)

    def maybe_compact(
        self, max_data_dirs: int = 8, target_partitions: int | None = None
    ) -> dict | None:
        """Size-aware compaction policy: rewrite only when the current
        snapshot references more than ``max_data_dirs`` data directories
        (≙ Iceberg's min-input-files trigger on rewrite_data_files).

        The operational upgrade over the reference's maintenance job,
        which rewrites every table unconditionally on each run
        (CombinDataAndRemoveOldSnap.scala:32-41) — at 100 TB an
        unconditional rewrite IS the workload. Returns the commit dict,
        or None when the table is already compact enough.
        """
        cur = self.current_snapshot()
        if cur is None or len(cur["data_dirs"]) <= max_data_dirs:
            return None
        return self.compact(target_partitions)

    def maybe_fold_eq_debt(self, max_eq_delete_files: int = 16) -> dict | None:
        """Auto-fold trigger for accumulated equality-delete READ debt
        (mirror of :meth:`maybe_compact`): each :meth:`upsert_by_key` /
        :meth:`delete_by_key` adds one equality-delete file; a read
        scans every accumulated key file (one scan, aggregation and join
        per equality-column set, so the job count stays flat while the
        key relation and the per-row scope check grow); past
        ``max_eq_delete_files`` this converts them all into ONE
        positional delete file (:meth:`convert_equality_deletes` — a
        one-time address-materialization scan; data files untouched, so
        partition pruning and time travel are unaffected).

        The default threshold comes from the knee measured when every
        file still cost its own join (SCALE.md r13 "eq-delete read-debt
        curve", tools/eq_debt_probe.py); the curve after files were
        grouped per column set is flatter (SCALE.md, below the r13
        table) and re-tuning the default is left open.  The incremental
        CC maintenance operators call
        this after every applied batch (``fold_eq_debt=``), so a
        steady-state table's read cost stays bounded without an external
        scheduler.  Returns the fold commit, or None when under the
        threshold."""
        cur = self.current_snapshot()
        if cur is None or len(cur.get("eq_delete_dirs", [])) <= max_eq_delete_files:
            return None
        return self.convert_equality_deletes()

    def maintain(
        self,
        max_data_dirs: int = 8,
        max_eq_delete_files: int = 4,
        max_pos_delete_dirs: int = 4,
        target_partitions: int | None = None,
    ) -> dict | None:
        """One-call maintenance policy: the convert-then-compact
        scheduler that ties the delete lifecycle (equality file at
        ingest → positional file at maintenance → folded at compaction)
        to size-aware triggers, in COST ORDER:

        1. Fragmented past ``max_data_dirs`` → :meth:`compact` ONLY.
           Compaction materializes every delete (equality and
           positional) into the rewritten data, so running a convert or
           positional-rewrite first would be pure wasted I/O — the
           policy explicitly skips them when a compact is due.  This is
           the interplay the NOTES round-6 ledger queued: convert is a
           cheaper *substitute* for compact on tables whose data layout
           is still healthy, not a prerequisite.
        2. Else, more than ``max_eq_delete_files`` equality-delete files
           → :meth:`convert_equality_deletes`.  Every read scans the eq
           key files and joins them (once per equality-column set); past
           the threshold the one-time address-materialization scan beats
           the recurring read tax.
        3. Else, more than ``max_pos_delete_dirs`` positional delete
           dirs → :meth:`rewrite_position_deletes` (fold to one
           deduplicated file; data untouched).

        At 100 TB this runs per-table from a scheduler loop exactly like
        the reference's maintenance job (CombinDataAndRemoveOldSnap
        .scala:32-41) — but where the reference rewrites every table
        unconditionally, this touches only what crossed a threshold,
        and never does subsumed work.  Read results are byte-identical
        before/after any action (pytest-pinned).

        Returns ``{"action": <name>, "commit": <snapshot dict>}`` for
        the action taken, or None when the table is healthy.
        """
        cur = self.current_snapshot()
        if cur is None:
            return None
        if len(cur["data_dirs"]) > max_data_dirs:
            return {
                "action": "compact",
                "commit": self.compact(target_partitions),
            }
        if len(cur.get("eq_delete_dirs", [])) > max_eq_delete_files:
            return {
                "action": "convert_equality_deletes",
                "commit": self.convert_equality_deletes(),
            }
        if len(cur.get("delete_dirs", [])) > max_pos_delete_dirs:
            return {
                "action": "rewrite_position_deletes",
                "commit": self.rewrite_position_deletes(),
            }
        return None

    def expire_snapshots(
        self, older_than_ms: int | None = None, retain_last: int = 1
    ) -> int:
        """M2: drop snapshots older than ts; GC unreferenced dirs.

        ``retain_last``: keep at least the newest N MAIN snapshots
        regardless of age (Iceberg ``expire_snapshots(retain_last => N)``
        — the knob that preserves a rollback/time-travel horizon through
        aggressive age-based expiry). Default 1 = the current snapshot,
        the previous behavior."""
        if retain_last < 1:
            raise ValueError(f"retain_last must be >= 1, got {retain_last}")
        snaps = self._snapshots()
        if not snaps:
            return 0
        if older_than_ms is None:
            older_than_ms = int(time.time() * 1000)
        # refs pin snapshots regardless of age (Iceberg: expiry never
        # breaks a named ref): tag targets, branch bases, and every live
        # branch's own chain survive until the ref is dropped
        refs = self._refs()
        pinned = {t["snapshot_id"] for t in refs["tags"].values()}
        pinned |= {
            b["base_snapshot_id"]
            for b in refs["branches"].values()
            if b["base_snapshot_id"] is not None
        }
        live_branches = set(refs["branches"])
        retained = {s["snapshot_id"] for s in self._mainline()[-retain_last:]}
        keep = [
            s
            for s in snaps
            if s["timestamp_ms"] >= older_than_ms
            or s["snapshot_id"] in pinned
            or s.get("branch") in live_branches
            or s["snapshot_id"] in retained
        ]
        keep_ids = {s["snapshot_id"] for s in keep}
        expired = [s for s in snaps if s["snapshot_id"] not in keep_ids]
        live_dirs = {d for s in keep for d in s["data_dirs"]}
        live_dirs |= {d for s in keep for d in s.get("delete_dirs", [])}
        live_dirs |= {
            e["dir"] for s in keep for e in s.get("eq_delete_dirs", [])
        }
        for s in expired:
            os.remove(os.path.join(self.snap_dir, f"snap-{s['snapshot_id']:09d}.json"))
        for root in (self.data_dir, self.deletes_root, self.eq_deletes_root):
            for d in os.listdir(root):
                full = os.path.join(root, d)
                if full not in live_dirs:
                    shutil.rmtree(full, ignore_errors=True)
        return len(expired)

    def remove_orphan_files(self, older_than_ms: int | None = None) -> int:
        """Iceberg ``remove_orphan_files``: delete data directories that
        NO snapshot references — the debris of writes that finished
        ``_write_data`` but crashed before ``_commit`` (expiry GC never
        touches these because it only walks committed snapshots).

        ``older_than_ms`` is the safety cutoff: directories modified at
        or after it survive.  The DEFAULT is ``floor(now_ms) + 1`` —
        i.e. sweep EVERYTHING up to and including the current
        millisecond tick, so an unreferenced dir whose mtime lands in
        the same tick as the sweep is still collected (the int-ms
        compare on both sides closes the float-vs-truncated race a
        prior default had).  The default therefore does NOT protect a
        write in flight right now (data written, commit pending): a
        caller wanting Iceberg-style in-flight safety must pass an
        explicitly older cutoff — Iceberg's action defaults to now-3d
        for exactly this reason, and production callers here should too.
        Returns the number of directories removed.
        """
        if older_than_ms is None:
            older_than_ms = int(time.time() * 1000) + 1
        snaps = self._snapshots()
        referenced = {d for s in snaps for d in s["data_dirs"]}
        referenced |= {d for s in snaps for d in s.get("delete_dirs", [])}
        referenced |= {
            e["dir"] for s in snaps for e in s.get("eq_delete_dirs", [])
        }
        removed = 0
        for root in (self.data_dir, self.deletes_root, self.eq_deletes_root):
            for d in os.listdir(root):
                full = os.path.join(root, d)
                if full in referenced:
                    continue
                if int(os.path.getmtime(full) * 1000) >= older_than_ms:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return removed


class LakehouseCatalog:
    """Named-table catalog ≙ the reference's ``hadoop_iceberg.icebergdb``.

    The ten reference tables (CombinDataAndRemoveOldSnap.scala:20-29) are
    created lazily on first write; ``maintain_all`` reproduces the
    compaction+expiry maintenance job over every table.
    """

    def __init__(self, spark: SparkSession, warehouse: str = DEFAULT_WAREHOUSE, db: str = "icebergdb"):
        self.spark = spark
        self.warehouse = warehouse
        self.db = db
        self.use_iceberg = iceberg_available()

    def table(self, name: str) -> LakehouseTable:
        return LakehouseTable(self.spark, self.warehouse, self.db, name)

    def read_sql_name(self, name: str) -> str:
        """Fully-qualified SQL name when running with real Iceberg."""
        return f"{CATALOG_NAME}.{self.db}.{name}"

    def list_tables(self) -> list[str]:
        db_dir = os.path.join(self.warehouse, self.db)
        if not os.path.isdir(db_dir):
            return []
        return sorted(os.listdir(db_dir))

    def maintain_all(self, older_than_ms: int | None = None) -> dict[str, int]:
        """CombinDataAndRemoveOldSnap: compact + expire + orphan-sweep
        every table (the reference's maintenance job, plus the orphan GC
        Iceberg runs as a separate action)."""
        out = {}
        for name in self.list_tables():
            t = self.table(name)
            if t.current_snapshot() is None:
                continue
            t.compact()
            out[name] = t.expire_snapshots(older_than_ms)
            t.remove_orphan_files(older_than_ms)
        return out
