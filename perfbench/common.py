"""Shared pieces of the benchmark: the Spark session, the work directory,
latency statistics, process-tree memory and on-disk accounting."""

from __future__ import annotations

import os
import signal
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work`` (and so inside the checkout)."""
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(work: str, traced: bool):
    """``build_session`` on ``local[<cores>]`` with the run's directories;
    a traced run also turns on the uncompressed, non-rolling event log."""
    from icebergproject_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}"
        ),
        "spark.ui.enabled": "false",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session("perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the Spark context, then the driver JVM and every process under
    this one, and wait until each has ended. Safe to call more than once,
    and when no session was started.

    ``SparkContext.stop`` leaves the JVM running: it exits only once it
    reads end-of-file on its stdin, which happens when this interpreter
    exits, so it would outlive the run. Here its stdin is closed and the
    process waited for; anything still left under this process (Python
    workers orphaned by the JVM) is terminated and waited for."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    for s in (SparkSession._instantiatedSession, SparkContext._active_spark_context):
        if s is not None:
            try:
                s.stop()
            except Exception as e:  # the JVM is ended below either way
                print(f"spark stop: {e!r}", file=sys.stderr)
    # the JVM's children are recorded before it ends: orphans leave the tree
    tree = [(p, _start_time(p)) for p in descendants(os.getpid())]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait()
    tree += [(p, _start_time(p)) for p in descendants(os.getpid())]
    end_processes([(p, s) for p, s in tree if s is not None], timeout)


def _start_time(pid: int) -> str | None:
    """Start time of a live process (field 22 of its stat), which tells it
    apart from a later process given the same pid; None when it has ended
    or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] == "Z" else fields[19]


def end_processes(procs: list[tuple[int, str]], timeout: float = 60.0) -> None:
    """Send SIGTERM, then after ``timeout`` seconds SIGKILL, to each
    (pid, start time) still running, and wait until all have ended.
    Children of this process are reaped."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    left = list(procs)
    while True:
        for pid, _ in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [(p, s) for p, s in left if _start_time(p) == s]
        if not left:
            return
        for pid, _ in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it:
    (value, percentile, sample count). With too few samples for any such
    percentile, the maximum is returned at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - beyond - 1  # s[k] has exactly `beyond` samples after it
    return s[k], 100.0 * (k + 1) / n, n


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so forked Python workers are not
    counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak of the summed proportional resident memory of this process's
    descendants (the Spark driver JVM and its Python workers), sampled
    every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.period)

    def sample(self, me: int | None = None) -> None:
        total = sum(_pss_kb(p) for p in descendants(me or os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.sample()


# ---------------------------------------------------------------------------
# on-disk accounting of a lakehouse warehouse
# ---------------------------------------------------------------------------


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


@dataclass
class FileLedger:
    """Every parquet file ever seen under a warehouse: new files and their
    bytes are counted once, however long they live. Bytes leave out
    positional-delete files (under ``deletes/``): they name data files by
    path, and paths hold random ids, so their size varies between runs."""

    seen: dict[str, int] = field(default_factory=dict)

    def scan(self, root: str) -> tuple[int, int]:
        """Record files not seen before; returns (new files, new bytes)."""
        files = nbytes = 0
        for d, _, names in os.walk(root):
            for f in names:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(d, f)
                if p in self.seen:
                    continue
                try:
                    size = os.path.getsize(p)
                except OSError:
                    continue
                self.seen[p] = size
                files += 1
                if f"{os.sep}deletes{os.sep}" not in p:
                    nbytes += size
        return files, nbytes


def same_content(want, got) -> bool:
    """Whether two DataFrames hold the same rows, in any order: their
    :func:`content_hash` pair from one job."""
    import pyspark.sql.functions as F

    cols = sorted(want.columns)
    both = want.select(*cols, F.lit(0).alias("_side")).unionByName(
        got.select(*cols, F.lit(1).alias("_side"))
    )
    h = F.xxhash64(*[F.col(c) for c in cols])
    r = {
        row["_side"]: (row["n"], row["s"] or 0, row["x"] or 0)
        for row in both.groupBy("_side").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("s"),
            F.bit_xor(h).alias("x"),
        ).collect()
    }
    return r.get(0, (0, 0, 0)) == r.get(1, (0, 0, 0))


def content_hash(df) -> tuple:
    """Order-insensitive content hash of a DataFrame: (rows, sum of row
    hashes mod a prime, xor of row hashes), columns taken by name."""
    import pyspark.sql.functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("h")
    r = (
        df.select(h)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod("h", F.lit(2_147_483_647))).alias("s"),
            F.bit_xor("h").alias("x"),
        )
        .first()
    )
    return (r["n"], r["s"] or 0, r["x"] or 0)
