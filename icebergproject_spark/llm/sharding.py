"""Training-data ordering: deterministic global shuffle, shard
assignment, and curriculum binning.

Extension beyond the reference surface (no analog in
/root/reference — the reference stops at the serving layer): these are
the batch-prep steps between "corpus is clean" and "trainer reads
shards" in an LLM data pipeline.  Everything here is deterministic —
pseudo-randomness comes from md5 of (salt, id), never from RNG state —
so shard layouts are reproducible across engines, retries, and
partitionings (and therefore DuckDB-oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_global_rank(
    df: DataFrame,
    order_exprs: list[Column],
    num_parts: int | None = None,
    rank_col: str = "__rn",
) -> tuple[DataFrame, int]:
    """Exact global ``row_number`` over a total order WITHOUT the
    single-partition global-window sort — the distributed form of
    ``ROW_NUMBER() OVER (ORDER BY ...)``.

    Shape: ``repartitionByRange`` on the order expressions (distributed
    range sort — partition *i*'s rows all precede partition *i+1*'s in
    the total order), one bounded driver reduction of per-partition row
    counts (``num_parts`` rows) turned into cumulative offsets, then a
    per-partition ``row_number`` window (partitioned by the physical
    partition id, so every partition sorts independently) plus the
    broadcast offset.  Result is byte-identical to the global window —
    which is exactly what keeps the ANSI-SQL oracles green while the
    executed plan stays 100 TB-safe: no stage ever sees more than one
    range partition of rows.

    ``order_exprs`` must define a TOTAL order (include a unique tiebreak
    column) — otherwise ranks of tied rows are partition-placement-
    dependent.  Returns ``(df_with_rank, total_row_count)`` — the count
    is a free by-product of the offset reduction, so callers needing
    ``n`` (e.g. exact NTILE) don't pay another job.
    """
    spark = df.sparkSession
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # lazy localCheckpoint: the offsets job below materializes the ranged
    # exchange once; the caller's consumer reuses it instead of
    # re-shuffling (the documented no-exchange-reuse trap for
    # twice-consumed plans)
    parted = (
        df.repartitionByRange(num_parts, *order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {
        r["__pid"]: r["c"]
        for r in parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((int(pid), int(acc)))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets or [], "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*order_exprs)
    ranked = (
        parted.join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.row_number().over(w)).cast("long"))
        .drop("__pid", "__off")
    )
    return ranked, acc


def exact_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_exprs: list[Column],
    group_cols: list[str] | None = None,
    num_parts: int | None = None,
    sum_col: str = "__cum",
) -> DataFrame:
    """Exact INCLUSIVE prefix sum of ``value_col`` over the total order
    ``order_exprs`` within each ``group_cols`` group, WITHOUT funneling a
    group through one window partition — the distributed form of
    ``SUM(v) OVER (PARTITION BY g ORDER BY ...)``.

    Shape (the :func:`exact_global_rank` pattern generalized from
    row-counting to value sums): ``repartitionByRange`` on (group,
    order) puts each group's rows on a contiguous run of range
    partitions in total order; per-(partition, group) sums form a TINY
    relation (≤ num_parts × |groups| rows) whose per-group running
    total, computed with an ordinary window over that aggregate, yields
    each (partition, group)'s cumulative OFFSET; a per-physical-
    partition window adds the in-partition prefix sum to the broadcast
    offset.  Integer sums are associative, so the result is
    byte-identical to the global per-group window — the oracle stays
    green while no stage ever sorts more than one range partition.

    ``order_exprs`` must be a total order within each group (unique
    tiebreak).  ``group_cols`` are COLUMN NAMES already present on
    ``df`` (materialize a literal stratum first if needed); the offsets
    window partitions by them, which is safe at any scale because its
    input is the bounded aggregate, not the data.
    """
    spark = df.sparkSession
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    groups = [F.col(g) for g in (group_cols or [])]
    parted = (
        df.repartitionByRange(num_parts, *groups, *order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        # lazy localCheckpoint: the broadcast offsets side materializes
        # the ranged exchange once; the probe side reuses it (the
        # documented no-exchange-reuse trap for twice-consumed plans)
        .localCheckpoint(eager=False)
    )
    psums = parted.groupBy("__pid", *groups).agg(
        F.sum(value_col).cast("long").alias("__psum")
    )
    # running total over the bounded per-(pid, group) aggregate — its
    # input is ≤ num_parts × |groups| rows, never the data
    w_off = Window.partitionBy(*groups).orderBy("__pid") if groups else (
        Window.orderBy("__pid")
    )
    # NULL-SAFE join on the group columns: groupBy and Window.partitionBy
    # both treat NULL as one ordinary group, but a plain equi-join drops
    # NULL keys (NULL != NULL), which would silently lose every row whose
    # group column is null (ADVICE r5 #1).  eqNullSafe (`<=>`) keeps the
    # broadcast hash join shape while matching the window semantics.
    # The offsets side is renamed (`__o*`) because it derives from
    # ``parted`` itself — same-lineage column refs are ambiguous.
    gnames = list(group_cols or [])
    offs = psums.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og{i}") for i, g in enumerate(gnames)],
        (F.sum("__psum").over(w_off) - F.col("__psum")).alias("__off"),
    )
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og{i}"))
    w = Window.partitionBy("__pid", *groups).orderBy(*order_exprs)
    return (
        parted.join(F.broadcast(offs), cond)
        .withColumn(
            sum_col,
            (F.col("__off") + F.sum(value_col).over(w)).cast("long"),
        )
        .drop("__pid", "__off", "__opid", *[f"__og{i}" for i in range(len(gnames))])
    )


def exact_ntile(rn: Column, n: int, k: int) -> Column:
    """ANSI ``NTILE(k)`` as a pure expression of the global rank ``rn``
    (1-based) and the known total row count ``n``: the first ``n % k``
    buckets take ``ceil(n/k)`` rows, the rest ``floor(n/k)`` — the exact
    standard semantics, so outputs hash-match NTILE oracles."""
    if n <= 0:
        return F.lit(1).cast("int")
    q, r = divmod(n, k)
    if q == 0:  # fewer rows than buckets: row i → bucket i
        return rn.cast("int")
    thresh = r * (q + 1)
    return (
        F.when(rn <= F.lit(thresh), F.floor((rn - 1) / F.lit(q + 1)) + 1)
        .otherwise(F.lit(r) + F.floor((rn - 1 - F.lit(thresh)) / F.lit(q)) + 1)
        .cast("int")
    )


def shuffle_key(id_col: str, salt: str) -> F.Column:
    """md5("<salt>-<id>") — the deterministic stand-in for a random sort
    key. md5 renders identical lowercase hex on Spark and ANSI engines,
    unlike xxhash64 (Spark-only) or rand() (nondeterministic)."""
    return F.md5(F.concat_ws("-", F.lit(salt), F.col(id_col).cast("string")))


def hash_shard(id_col: str, salt: str, num_shards: int) -> F.Column:
    """Map-side deterministic shard assignment: the first 16 bits of the
    md5 shuffle key, modulo ``num_shards``.  Unlike the round-robin
    deal over a global order (``global_shuffle``), this needs NO window,
    no sort, and no shuffle at all — shard is a pure projection, so it
    survives any scale — at the cost of multinomial rather than exactly
    equal shard sizes (relative imbalance ~sqrt(shards/rows), negligible
    for training shards of millions of rows; modulo bias ≤ num_shards/65536).

    Renders identically in ANSI SQL (hex chars → integer via position in
    the hex alphabet), so hash-sharded outputs stay oracle-checkable.
    """
    key = shuffle_key(id_col, salt)
    word = F.conv(F.substring(key, 1, 4), 16, 10).cast("long")
    return (word % num_shards).cast("long")


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    num_shards: int = 16,
    salt: str = "seed0",
) -> DataFrame:
    """Deterministic global shuffle + shard/position assignment: order
    the corpus by ``md5(salt || id)`` and deal rows round-robin into
    ``num_shards`` shards.  Re-salting reshuffles; same salt always
    yields the same layout (the property retry-safe training-data jobs
    need — a rerun must not produce different shards).

    The global rank comes from ``exact_global_rank``: distributed range
    sort + per-partition row_number + broadcast cumulative offsets.  The
    layout is byte-identical to ONE global ``ROW_NUMBER()`` window (the
    ANSI-SQL oracle's spelling), but no stage ever holds more than one
    range partition.
    """
    keyed = df.select(F.col(id_col), shuffle_key(id_col, salt).alias("__k"))
    ranked, _ = exact_global_rank(keyed, [F.col("__k"), F.col(id_col)])
    rn = F.col("__rn")
    return ranked.select(
        F.col(id_col),
        ((rn - 1) % num_shards).cast("long").alias("shard"),
        (rn - 1).cast("long").alias("pos"),
    )


def curriculum_bins(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_bins: int = 10,
) -> DataFrame:
    """Length-based curriculum binning: rank documents by token count
    (shortest first — the classic easy→hard proxy) and cut the ranking
    into ``num_bins`` equal-depth bins.  A curriculum scheduler then
    drains bin 1 before bin 2, etc.

    Exact NTILE computed distributed: ``exact_global_rank`` over
    (n_tokens, id) gives the global rank and total count without a
    single-partition sort, and ``exact_ntile`` turns (rank, n) into the
    standard NTILE bucket as a pure expression — byte-identical to the
    NTILE-over-a-global-window oracle.
    """
    n_tok = F.size(F.split(F.col(content_col), " "))
    scored = df.select(F.col(id_col), n_tok.cast("long").alias("n_tokens"))
    ranked, n = exact_global_rank(
        scored, [F.col("n_tokens").asc(), F.col(id_col).asc()]
    )
    return ranked.select(
        id_col,
        "n_tokens",
        exact_ntile(F.col("__rn"), n, num_bins).alias("bin"),
    )
