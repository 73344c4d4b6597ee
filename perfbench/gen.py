"""Seeded input generator for the benchmark workloads.

Every function takes the seed (or a ``numpy.random.Generator`` derived
from it) and writes plain files; the package only ever sees those files.
The same seed gives byte-identical files (``tests/test_perfbench.py``
pins this).

Inputs:

- browse-log envelopes (JSONL, one file per micro-batch) with Zipf-skewed
  user and product keys, a share of out-of-order log times, a share of
  non-browse log types (dropped at ODS) and a share of envelopes without a
  product code (dropped at DWD);
- CDC envelopes for the product and category dims: one bootstrap file,
  optional update files applied at set-up (equality-delete debt the
  stream starts with) and one update file per micro-batch (Zipf-skewed
  keys, unique within a file; each update renames the product and moves
  it to another category; plus ignored ``delete`` records);
- a small TPC-H-shaped star schema plus an ``events`` table, for the
  registry heads the serving workload runs;
- a text corpus with embeddings, with exact and near duplicates injected
  at a fixed share.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_700_000_000_000  # 2023-11-14T22:13:20Z
BATCH_SPAN_MS = 60_000  # event-time span of one micro-batch file
FIRST_CATS = ["home", "garden", "books", "tools", "sports", "toys"]
WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window the a lake snapshot commit schema delta "
    "manifest bloom prune shard token index cluster graph edge node rank "
    "score embed corpus shingle band"
).split()


@dataclass(frozen=True)
class MedallionSpec:
    """Traffic dimensions of the browse/CDC stream."""

    batches: int = 24
    envelopes_per_batch: int = 2000
    dim_updates_per_batch: int = 120
    dim_deletes_per_batch: int = 10
    users: int = 5000
    products: int = 800
    second_cats: int = 30
    zipf_s: float = 1.1
    out_of_order_share: float = 0.05
    other_logtype_share: float = 0.03
    missing_code_share: float = 0.01
    batch_span_ms: int = BATCH_SPAN_MS  # event-time span of one batch file
    staged_batches: int = 0  # CDC update files applied before the first batch


@dataclass
class MedallionInputs:
    log_dir: str
    cdc_dir: str
    bootstrap_path: str
    log_files: list[str] = field(default_factory=list)
    staged_cdc_files: list[str] = field(default_factory=list)
    cdc_files: list[str] = field(default_factory=list)
    envelope_bytes: list[int] = field(default_factory=list)
    envelopes: list[int] = field(default_factory=list)
    setup_cdc_bytes: int = 0  # bootstrap + staged CDC files
    cdc_bytes: list[int] = field(default_factory=list)  # per-batch CDC files


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input kind, so changing the size of
    one input never shifts the values of another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def product_id(i: int) -> str:
    return f"p{i:05d}"


def cat_of_product(i: int, spec: MedallionSpec) -> str:
    return f"c{100 + i % spec.second_cats}"


def category_rows(spec: MedallionSpec) -> list[dict]:
    rows = [
        {"id": f"c{j}", "p_id": None, "name": FIRST_CATS[j]}
        for j in range(len(FIRST_CATS))
    ]
    rows += [
        {
            "id": f"c{100 + j}",
            "p_id": f"c{j % len(FIRST_CATS)}",
            "name": f"{FIRST_CATS[j % len(FIRST_CATS)]}-sub{j}",
        }
        for j in range(spec.second_cats)
    ]
    return rows


def _cdc(table: str, op: str, ts: int, xid: int, data: dict) -> str:
    return json.dumps(
        {
            "database": "lakehousedb",
            "table": table,
            "type": op,
            "ts": str(ts),
            "xid": str(xid),
            "commit": "true",
            "data": {k: v for k, v in data.items() if v is not None},
        },
        separators=(",", ":"),
    )


def _write_lines(path: str, lines: list[str], mtime_s: float) -> int:
    body = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(body)
    # the file stream source orders a backlog by modification time: pin it
    # so micro-batch i always reads file i
    os.utime(path, (mtime_s, mtime_s))
    return len(body)


def write_medallion(root: str, seed: int, spec: MedallionSpec) -> MedallionInputs:
    """Browse-log backlog + CDC dim records under ``root``."""
    rng = rng_for(seed, "medallion")
    inp = MedallionInputs(
        log_dir=os.path.join(root, "log"),
        cdc_dir=os.path.join(root, "cdc"),
        bootstrap_path=os.path.join(root, "cdc_bootstrap.jsonl"),
    )
    os.makedirs(inp.log_dir, exist_ok=True)
    os.makedirs(inp.cdc_dir, exist_ok=True)

    boot = [
        _cdc("pc_product_category", "bootstrap-insert", BASE_MS // 1000, 1, r)
        for r in category_rows(spec)
    ]
    for i in range(spec.products):
        boot.append(
            _cdc(
                "pc_product", "bootstrap-insert", BASE_MS // 1000, 1,
                {
                    "product_id": product_id(i),
                    "category_id": cat_of_product(i, spec),
                    "product_name": f"product-{i}",
                    "gmt_create": str(BASE_MS - 86_400_000 + i),
                },
            )
        )
    inp.setup_cdc_bytes = _write_lines(inp.bootstrap_path, boot, 1_600_000_000)

    user_p = zipf_probs(spec.users, spec.zipf_s)
    prod_p = zipf_probs(spec.products, spec.zipf_s)
    # Zipf rank → key: a seeded permutation, so hot keys differ per seed
    prod_perm = rng.permutation(spec.products)
    user_perm = rng.permutation(spec.users)
    cdc_rng = rng_for(seed, "cdc")
    for k in range(spec.staged_batches):
        path, nbytes = _write_cdc(
            inp.cdc_dir, f"staged-{k:05d}", cdc_rng, spec, prod_perm, prod_p,
            BASE_MS // 1000 - spec.staged_batches + k, 100 + k, 1_600_000_000,
        )
        inp.staged_cdc_files.append(path)
        inp.setup_cdc_bytes += nbytes
    n = spec.envelopes_per_batch
    for b in range(spec.batches):
        users = user_perm[rng.choice(spec.users, n, p=user_p)]
        prods = prod_perm[rng.choice(spec.products, n, p=prod_p)]
        span = spec.batch_span_ms
        t = BASE_MS + b * span + np.sort(rng.integers(0, span, n))
        late = rng.random(n) < spec.out_of_order_share
        t = np.where(late, t - rng.integers(BATCH_SPAN_MS, 3 * BATCH_SPAN_MS, n), t)
        other = rng.random(n) < spec.other_logtype_share
        nocode = rng.random(n) < spec.missing_code_share
        points = rng.integers(0, 100, n)
        ips = rng.integers(1, 255, (n, 2))
        lines = []
        for k in range(n):
            p = int(prods[k])
            data = {
                "logTime": str(int(t[k])),
                "userId": f"uid{int(users[k]):06d}",
                "userIp": f"10.0.{ips[k, 0]}.{ips[k, 1]}",
                "frontProductUrl": "",
                "browseProductUrl": f"https://shop/{product_id(p)}",
                "browseProductTpCode": cat_of_product(p, spec),
                "browseProductCode": product_id(p),
                "obtainPoints": str(int(points[k])),
            }
            if nocode[k]:
                del data["browseProductCode"]
            lines.append(
                json.dumps(
                    {"logtype": "pagelog" if other[k] else "browselog", "data": data},
                    separators=(",", ":"),
                )
            )
        path = os.path.join(inp.log_dir, f"part-{b:05d}.jsonl")
        inp.envelope_bytes.append(_write_lines(path, lines, 1_600_000_100 + b))
        inp.envelopes.append(n)
        inp.log_files.append(path)

        path, nbytes = _write_cdc(
            inp.cdc_dir, f"part-{b:05d}", cdc_rng, spec, prod_perm, prod_p,
            (BASE_MS + b * span) // 1000, 1000 + b, 1_600_000_100 + b,
        )
        inp.cdc_files.append(path)
        inp.cdc_bytes.append(nbytes)
    return inp


def _write_cdc(cdc_dir, name, rng, spec, prod_perm, prod_p, ts, xid, mtime_s) -> tuple[str, int]:
    """One file of product-dim CDC: distinct Zipf-hot keys (last-write-wins
    is then well defined across files), each update renaming the product
    and moving it to a random second-level category, plus deletes the DIM
    layer must ignore."""
    m = spec.dim_updates_per_batch + spec.dim_deletes_per_batch
    keys = prod_perm[rng.choice(spec.products, size=min(m, spec.products), replace=False, p=prod_p)]
    cats = rng.integers(0, spec.second_cats, len(keys))
    lines = []
    for j, p in enumerate(int(x) for x in keys):
        op = "update" if j < spec.dim_updates_per_batch else "delete"
        lines.append(
            _cdc(
                "pc_product", op, ts, xid,
                {
                    "product_id": product_id(p),
                    "category_id": f"c{100 + int(cats[j])}",
                    "product_name": f"product-{p}-{name}",
                    "gmt_create": str(ts * 1000 + j),
                },
            )
        )
    path = os.path.join(cdc_dir, f"{name}.jsonl")
    return path, _write_lines(path, lines, mtime_s)


def replay_dim(paths: list[str]) -> dict[str, dict[str, dict[str, str]]]:
    """Last-write-wins state per key of each dim after the CDC files
    ``paths``, applied in order, replayed in Python."""
    state: dict[str, dict[str, dict[str, str]]] = {
        "pc_product": {},
        "pc_product_category": {},
    }
    pks = {"pc_product": "product_id", "pc_product_category": "id"}
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                if e["type"] in ("insert", "update", "bootstrap-insert"):
                    state[e["table"]][e["data"][pks[e["table"]]]] = e["data"]
    return state


def expected_dim(
    inp: MedallionInputs, batches: int
) -> dict[str, dict[str, dict[str, str]]]:
    """Last-write-wins state after the bootstrap, the staged update files
    and ``batches`` per-batch update files, applied in that order."""
    return replay_dim([inp.bootstrap_path] + inp.staged_cdc_files + inp.cdc_files[:batches])


# ---------------------------------------------------------------------------
# TPC-H-shaped tables for the registry heads (schemas match the fixtures)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


@dataclass(frozen=True)
class StarSpec:
    customers: int = 1500
    orders: int = 15000
    parts: int = 2000
    suppliers: int = 100
    events: int = 20000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int), n)).astype("datetime64[us]")


def write_star(sf_dir: str, seed: int, spec: StarSpec) -> int:
    """Write the star schema as one parquet file per table; returns bytes."""
    rng = rng_for(seed, "star")
    os.makedirs(sf_dir, exist_ok=True)
    money = lambda a: np.round(a, 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = spec.customers
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(1, c + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, c + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": money(rng.uniform(-999, 9999, c)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
        }
    )
    s = spec.suppliers
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(1, s + 1), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, s + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": money(rng.uniform(-999, 9999, s)),
        }
    )
    p = spec.parts
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(1, p + 1), pa.int64()),
            "p_name": [f"part {WORDS[i % len(WORDS)]} {i}" for i in range(1, p + 1)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, p)],
            "p_type": [f"TYPE{x}" for x in rng.integers(0, 30, p)],
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": money(rng.uniform(900, 2000, p)),
        }
    )
    o = spec.orders
    odate = _days(rng, "1992-01-01", "1998-08-02", o)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, o + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, c + 1, o), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
            "o_totalprice": money(rng.uniform(1000, 400000, o)),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
        }
    )
    lines = rng.integers(1, 8, o)
    lo = np.repeat(np.arange(1, o + 1), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(lo)
    qty = rng.integers(1, 51, n).astype(float)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n).astype("timedelta64[D]")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lo, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, p + 1, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, s + 1, n), pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": money(qty * rng.uniform(900, 2000, n)),
            "l_discount": money(rng.integers(0, 11, n) / 100.0),
            "l_tax": money(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    e = spec.events
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 7 * 86_400_000_000, e)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 500, e), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
            "value": money(rng.uniform(0, 20, e)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    total = 0
    for name, tbl in t.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# Corpus with injected duplicates
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusSpec:
    docs: int = 2000
    exact_dup_share: float = 0.02
    near_dup_share: float = 0.05
    dim: int = 64
    min_words: int = 40
    max_words: int = 80


@dataclass
class CorpusTruth:
    exact_pairs: set[tuple[int, int]]
    near_pairs: set[tuple[int, int]]
    docs: int
    text_bytes: int


def write_corpus(sf_dir: str, seed: int, spec: CorpusSpec) -> CorpusTruth:
    """documents.parquet + embeddings.parquet with injected duplicates.

    A near duplicate copies an original document and replaces one word
    (word-3-shingle Jaccard ≥ 0.9 at these lengths); its embedding is the
    original's plus small noise. An exact duplicate copies text and
    vector unchanged. Originals are drawn from the unmodified documents,
    so every injected pair is disjoint from every other."""
    rng = rng_for(seed, "corpus")
    os.makedirs(sf_dir, exist_ok=True)
    n = spec.docs
    n_exact = int(n * spec.exact_dup_share)
    n_near = int(n * spec.near_dup_share)
    n_orig = n - n_exact - n_near
    texts: list[str] = []
    for _ in range(n_orig):
        k = int(rng.integers(spec.min_words, spec.max_words + 1))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    vecs = rng.normal(0, 1, (n, spec.dim)).astype(np.float32)
    sources = rng.choice(n_orig, n_exact + n_near, replace=False)
    exact_pairs, near_pairs = set(), set()
    for j, src in enumerate(int(x) for x in sources):
        new_id = n_orig + j
        words = texts[src].split(" ")
        if j < n_exact:
            texts.append(texts[src])
            vecs[new_id] = vecs[src]
            exact_pairs.add((src, new_id))
        else:
            pos = int(rng.integers(len(words)))
            words[pos] = "injected" + str(int(rng.integers(1_000_000)))
            texts.append(" ".join(words))
            vecs[new_id] = vecs[src] + rng.normal(0, 0.01, spec.dim).astype(np.float32)
            near_pairs.add((src, new_id))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": ["en"] * n,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.arange(n) % 10, pa.int32()),
        }
    )
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
    return CorpusTruth(
        exact_pairs=exact_pairs,
        near_pairs=near_pairs,
        docs=n,
        text_bytes=sum(len(x.encode()) for x in texts),
    )


def shingles(text: str, n: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb)
