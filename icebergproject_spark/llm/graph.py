"""Graph analytics over derived relations — PageRank on an integer grid.

Companion to the connected-components operator (llm/dedup.py): where
components answer "which docs form one duplicate cluster", PageRank
answers "which nodes matter" — the standard centrality signal for
link-graph curation (seed selection, crawl prioritization, graph-based
quality weighting a la Common Crawl's harmonic-centrality cut).

**Integer-exact by construction**: classic PageRank is a float fixpoint,
whose sums are order-dependent and therefore engine-unstable.  This
implementation defines the iteration ON AN INTEGER MICRO-GRID:

    r0(v)     = scale                    (10^9 micro-points)
    c(u -> v) = (damping_pct * r(u)) DIV (100 * outdeg(u))
    r'(v)     = (100 - damping_pct) * scale DIV 100  +  SUM c(u -> v)

All quantities are BIGINTs; DIV is floor division; the per-target SUM is
an order-independent integer sum — so K iterations produce bit-identical
ranks on any engine, and the whole computation is ANSI-SQL-replayable by
unrolling the K iterations as CTEs (the repo's established oracle
pattern for iterative algorithms: Lloyd steps, BPE merges).  The floor
in DIV leaks ≤ outdeg(u) micro-points per node per iteration — bounded,
deterministic, and irrelevant at scale 10^9.

One level loop serves the whole family: :func:`_pagerank_levels` runs K
levels of the recurrence from a node frame, an initial-rank column, a
teleport column and a contribution expression.  The global
(:func:`pagerank_micro`, :func:`pagerank_micro_history`), personalized
(seed-gated ``r0`` and teleport) and weighted (``w``-proportional
contribution) variants are setups over it; the incremental
:func:`pagerank_micro_delta` runs the same single-level step over a
growing frontier instead of the whole node set.

100 TB shape: one iteration = one join of the edge list with the rank
vector on ``src`` (co-partition both by ``src`` once and the join is
shuffle-free after the first iteration; the rank vector is |V| rows —
broadcastable when the graph is wide and shallow) plus one shuffle of
contributions by ``dst`` (the unavoidable transpose, partial-aggregated
map-side).  Lineage is cut per iteration with a lazy localCheckpoint,
matching the Lloyd-training pattern (llm/similarity.py).

Dangling nodes (outdeg 0) contribute nothing — their rank leaks rather
than redistributing, the common simplification; symmetrized edge sets
(the registry queries' shape) have none by construction.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

#: Plan-time broadcast bound (rows) for the per-iteration |V|-bounded
#: vectors (rank/score/label/frontier frames) of the iterative
#: operators.  2M (node, long) rows ≈ 32 MB serialized — comfortably
#: inside the session's 64 MB broadcast budget and a rounding error
#: against executor memory.  At 100 TB |V| far exceeds this, the
#: decision flips automatically, and every join below keeps its
#: original shuffle shape — the same measured-threshold discipline as
#: connected_components' driver_threshold.  0 forces the shuffle shape.
VECTOR_BCAST_ROWS = 2_000_000


def _vector_hint(nodes: DataFrame):
    """Decide ONCE per operator call whether its per-iteration vectors
    may be plan-time broadcast: count the (already checkpoint-pinned)
    node set and return ``F.broadcast`` iff |V| ≤ VECTOR_BCAST_ROWS,
    else identity.

    Why plan-time and not AQE: AQE converts these per-iteration
    sort-merge joins to broadcast joins at RUNTIME, but the planned
    exchange still executes (map output write + adaptive re-planning
    per stage).  An explicit hint removes the exchanges from the plan,
    collapsing each iteration from ~3 stages to 1 — measured on
    hits_micro at sf0.1: 5.77 → 4.21 s median / 5.39 → 3.37 s min,
    bit-identical output.  The count itself is one tiny job over a
    frame the operator materializes anyway (guide §3.1 "broadcast the
    side that provably fits")."""
    if VECTOR_BCAST_ROWS > 0 and nodes.count() <= VECTOR_BCAST_ROWS:
        return F.broadcast
    return lambda df: df


def _long_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )


def _node_set(e: DataFrame) -> DataFrame:
    """Every src or dst of ``e`` as (node), pinned: every level reads it."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _degree_edges(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """The unweighted prep: ``(ed, nodes)`` with ``ed`` the pinned
    (src, dst, outdeg) edge list, static across iterations."""
    e = _long_edges(edges, src_col, dst_col)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = _node_set(e)
    return e.join(deg, "src").localCheckpoint(eager=False), nodes


def _uniform_contrib(damping_pct: int) -> Column:
    """c(u -> v) over ``ed``'s (r, outdeg): rank split evenly."""
    return F.expr(f"({damping_pct} * r) DIV (100 * outdeg)")


def _teleport_base(damping_pct: int, scale: int) -> int:
    return (100 - damping_pct) * scale // 100


def _pagerank_level(
    ed: DataFrame,
    nodes: DataFrame,
    prev: DataFrame,
    teleport: Column,
    contrib: Column,
    bc: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """One step of the recurrence for the rows of ``nodes``: sum
    ``contrib`` over ``ed`` joined with the previous level ``prev``
    (as ``r``), add ``teleport``; pinned with a lazy localCheckpoint."""
    summed = (
        ed.join(
            bc(prev.select(
                F.col("node").alias("src"), F.col("rank_micro").alias("r")
            )),
            "src",
        )
        .select(F.col("dst").alias("node"), contrib.alias("c"))
        .groupBy("node")
        .agg(F.sum("c").alias("in_rank"))
    )
    return (
        nodes.join(bc(summed), "node", "left")
        .select(
            "node",
            (teleport + F.coalesce(F.col("in_rank"), F.lit(0)))
            .cast("long")
            .alias("rank_micro"),
        )
        .localCheckpoint(eager=False)
    )


def _pagerank_levels(
    ed: DataFrame,
    nodes: DataFrame,
    r0: Column,
    teleport: Column,
    contrib: Column,
    iterations: int,
) -> list[DataFrame]:
    """The PageRank level loop: ``[r_0, …, r_K]`` over ``nodes`` (one
    row per node, the columns ``r0`` and ``teleport`` read), with
    ``contrib`` evaluated per edge of ``ed`` against the previous
    level's ``r``.  The |V|-bounded rank and summed vectors take the
    plan-time broadcast when they provably fit (:func:`_vector_hint`),
    so each iteration loses its two exchanges."""
    bc = _vector_hint(nodes)
    levels = [nodes.select("node", r0.cast("long").alias("rank_micro"))]
    for _ in range(iterations):
        levels.append(
            _pagerank_level(ed, nodes, levels[-1], teleport, contrib, bc)
        )
    return levels


def pagerank_micro(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """K-iteration integer-grid PageRank over ``edges``.

    ``edges``: directed (src, dst) pairs, pre-deduplicated by the caller
    if multi-edges should not multi-count.  Returns (node, rank_micro)
    for every node appearing as a src or dst: the last level of
    :func:`pagerank_micro_history` (``iterations=0`` gives ``r_0``).
    """
    return pagerank_micro_history(
        edges, iterations, damping_pct, scale, src_col, dst_col
    )[-1]


def pagerank_personalized_micro(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """K-iteration PERSONALIZED PageRank on the integer grid: teleport
    mass returns only to the ``seeds`` node set (one column ``node``) —
    the topic-sensitive variant (Haveliwala 2002) used for seed-biased
    crawl prioritization and related-entity expansion: rank measures
    proximity to the seed set, not global centrality.

    Same recurrence as :func:`pagerank_micro` with the teleport term
    restricted: r0(v) = scale·[v ∈ S], and each iteration adds
    ``base`` only for seeds (per-seed scale, not 1/|S|-normalized —
    a positive global rescaling that keeps the ranking and stays
    integral).  Non-seed nodes unreachable from S stay at exactly 0 —
    a useful structural property the tests pin.  Identical 100 TB
    shape and CTE-unrollability as the global variant."""
    if iterations < 1:
        raise ValueError(
            f"pagerank_personalized_micro requires iterations >= 1, "
            f"got {iterations}"
        )
    ed, nodes = _degree_edges(edges, src_col, dst_col)
    sd = seeds.select(F.col("node").cast("long").alias("node")).distinct()
    # the node set with its seed flag: one row per node, so it is the
    # level loop's node frame
    marked = nodes.join(
        sd.withColumn("__seed", F.lit(1)), "node", "left"
    ).select(
        "node", F.coalesce(F.col("__seed"), F.lit(0)).alias("__seed")
    ).localCheckpoint(eager=False)
    seed = F.col("__seed")
    return _pagerank_levels(
        ed,
        marked,
        r0=seed * F.lit(scale),
        teleport=seed * F.lit(_teleport_base(damping_pct, scale)),
        contrib=_uniform_contrib(damping_pct),
        iterations=iterations,
    )[-1]


def pagerank_micro_history(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
) -> list[DataFrame]:
    """:func:`pagerank_micro`, but returning EVERY iteration's rank
    vector ``[r_0, …, r_K]`` — the stored state that makes exact
    incremental maintenance possible (:func:`pagerank_micro_delta`).
    ``r_K`` is bit-identical to ``pagerank_micro(...)``'s output.  At
    100 TB the history is K+1 |V|-row tables (store partitioned by
    iteration in the lakehouse); K is small (5 here)."""
    ed, nodes = _degree_edges(edges, src_col, dst_col)
    return _pagerank_levels(
        ed,
        nodes,
        r0=F.lit(scale),
        teleport=F.lit(_teleport_base(damping_pct, scale)),
        contrib=_uniform_contrib(damping_pct),
        iterations=iterations,
    )


def pagerank_micro_delta(
    edges_full: DataFrame,
    edges_delta: DataFrame,
    history: list[DataFrame],
    damping_pct: int = 85,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
    stats: dict | None = None,
    static_state: dict | None = None,
    emit: str = "merged",
) -> list[DataFrame]:
    """EXACT incremental PageRank maintenance (VERDICT r7 ask #8): when
    an edge-delta batch lands (e.g. drained from a lakehouse table via
    ``incremental_batches``), update the stored K-iteration history to
    what a full recompute over ``edges_full`` would produce — BIT
    IDENTICAL, by incremental view maintenance of the unrolled
    recurrence rather than approximate warm-starting (a warm start
    converges *near* the cold-start fixpoint but not to the same
    integers, so it could not be oracle-checked).

    The insight: ``r_i(v)`` can differ from the stored history only if
    some in-neighbor's ``r_{i-1}`` changed, or an in-edge is new, or an
    in-neighbor's outdeg changed (all new-edge sources).  So the dirty
    set starts at ``D`` = destinations of edges whose src gained
    out-edges (plus brand-new nodes) and grows ONE HOP per iteration:
    ``F_i = N_out(F_{i-1}) ∪ D``.  Each iteration recomputes ranks for
    ``F_i`` only — the global variant's single-level step
    (:func:`_pagerank_level`) over the edges into ``F_i`` — reading
    unchanged in-neighbor ranks from the stored ``history[i-1]``: cost
    O(Σ_i |edges into F_i|), independent of graph size for a localized
    delta, which is the point at 100 TB: the nightly crawl-graph delta
    touches the K-hop neighborhood of new links, not the whole web
    graph.

    ``edges_full`` must be the complete post-delta edge set;
    ``edges_delta`` every CHANGED edge row — the new edges for an
    additive feed, or the full symmetric difference (added ∪ removed)
    for a replace-style feed such as an ANN-graph maintenance step
    (r11: the dirty seed includes the delta rows' own dsts so removed
    in-edges are re-evaluated too; the node set must not shrink).
    ``history`` is the prior run's
    ``pagerank_micro_history`` output (its length fixes K).  Returns
    the updated history; ``[-1]`` is the new rank vector.  When
    ``stats`` is passed, ``stats["frontier_sizes"]`` records |F_i| per
    iteration — the measurable incrementality claim (tests pin that a
    localized delta keeps frontiers ≪ |V|).

    Two production knobs (added after the r10 crossover probe showed
    the per-call O(E) setup and O(|V|) merged materialization — not the
    frontier math — dominate maintenance wall at 256× scale):

    - ``static_state``: ``{"ed": (src, dst, outdeg) DataFrame,
      "nodes": (node) DataFrame}`` — the degree-annotated edge list and
      node set read from STORAGE instead of being recomputed from
      ``edges_full`` (a groupBy + distinct over the whole edge set) on
      every batch.  Production maintains both incrementally at O(delta)
      cost per append (new edge rows plus an outdeg upsert for delta
      sources); ``tools/pagerank_crossover_probe.py`` measures the
      difference.  Both relations must reflect the POST-delta graph.
    - ``emit="updates"``: return ``[updated_1, …, updated_K]`` — the
      RECOMPUTED frontier rows at each level (a superset of the rows
      whose rank actually changed: a frontier node may recompute to its
      stored value).  This is the upsert payload a production batch
      MERGEs into the stored history — O(frontier) rows, which is the
      claim that matters — instead of the default fully-merged history
      views whose materialization is O(|V|) per level.  ``emit="merged"`` (default)
      keeps the original contract; the registered oracle heads use it —
      hash-checking needs the full vector."""
    if emit not in ("merged", "updates"):
        raise ValueError(f"emit must be 'merged' or 'updates', got {emit!r}")
    iterations = len(history) - 1
    de = _long_edges(edges_delta, src_col, dst_col).localCheckpoint(
        eager=False
    )  # consumed by delta_srcs AND the dirty seed's dst branch (r11) —
    # without the pin a caller's delta plan (often a corpus-wide
    # filter+distinct) executes once per consumer
    teleport = F.lit(_teleport_base(damping_pct, scale))
    contrib = _uniform_contrib(damping_pct)
    if static_state is not None:
        ed = static_state["ed"]
        nodes = static_state["nodes"].select(
            F.col(static_state["nodes"].columns[0]).alias("node")
        )
    else:
        ed, nodes = _degree_edges(edges_full, src_col, dst_col)

    delta_srcs = de.select("src").distinct()
    bc = _vector_hint(nodes)  # r13: frontier/updated/merged-rank frames
    # are all ≤ |V| rows — broadcast them when |V| provably fits
    new_nodes = nodes.join(
        history[0].select("node"), "node", "left_anti"
    )
    # dirty seed: every dst an affected source points at (its per-edge
    # contribution changed via outdeg, or the edge itself is new), plus
    # the delta rows' OWN dsts — for a REPLACE-style delta (the caller
    # passes every CHANGED edge, added or removed, e.g. the edge diff
    # of an ANN-graph maintenance step) a removed edge's dst lost an
    # in-contribution but no longer appears among its src's post-delta
    # out-edges, so only the delta row itself names it.  For a purely
    # additive delta the extra union is a no-op (de ⊆ ed already puts
    # those dsts in the seed).  Plus nodes absent from the stored
    # history entirely.  Contract: the node set must not shrink (true
    # under append feeds; a kNN maintenance step replaces edges but
    # keeps every node).
    dirty = (
        ed.join(bc(delta_srcs), "src").select(F.col("dst").alias("node"))
        .union(de.select(F.col("dst").alias("node")))
        .union(new_nodes.select("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    new_hist = [
        nodes.select("node", F.lit(scale).cast("long").alias("rank_micro"))
    ]
    updates_out: list[DataFrame] = []
    frontier = dirty
    updated_prev: DataFrame | None = None  # updated rows at level i-1
    for i in range(1, iterations + 1):
        if i > 1:
            frontier = (
                ed.join(
                    bc(frontier.select(F.col("node").alias("src"))), "src"
                )
                .select(F.col("dst").alias("node"))
                .union(dirty.select("node"))
                .distinct()
                .localCheckpoint(eager=False)
            )
        # merged r_{i-1}: recomputed frontier rows override the stored
        # history; level 0 is the constant `scale` for every node
        if i == 1:
            r_prev = new_hist[0]
        else:
            r_prev = updated_prev.unionByName(
                history[i - 1].join(
                    bc(updated_prev.select("node")), "node", "left_anti"
                )
            )
        # the edges into F_i carry every contribution F_i's ranks sum
        into_frontier = ed.join(
            bc(frontier.select(F.col("node").alias("dst"))), "dst"
        )
        updated = _pagerank_level(
            into_frontier, frontier, r_prev, teleport, contrib, bc
        )
        new_hist.append(
            updated.unionByName(
                history[i].join(bc(updated.select("node")), "node", "left_anti")
            )
        )
        updates_out.append(updated)
        if stats is not None:
            stats.setdefault("frontier_sizes", []).append(frontier.count())
        updated_prev = updated
    return new_hist if emit == "merged" else updates_out


def pagerank_weighted_micro(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """K-iteration WEIGHTED PageRank on the integer grid: a node's rank
    flows to its out-neighbors proportionally to positive integer edge
    weights instead of uniformly —

        c(u -> v) = (damping_pct * r(u) * w(u,v)) DIV (100 * W(u))

    with ``W(u) = Σ_v w(u,v)``.  The natural variant when edges carry
    multiplicity (co-purchase counts, citation counts, link frequency):
    the unweighted recurrence treats a pair that co-occurred 40 times
    like one that co-occurred once.  With all weights 1 this reduces
    exactly to :func:`pagerank_micro` (W(u) = outdeg(u)).

    Weights must be positive integers (the caller's contract — counts
    are; pre-scale rationals to a grid first).  Overflow bound:
    damping·r·w ≤ 100·(n·scale)·max_w must stay below 2^63 — at the 1e9
    default grid that supports n·max_w up to ~9e10, far beyond any
    per-partition rank mass a real graph concentrates.  Same level
    loop, 100 TB shape, bit-determinism, and unrolled-CTE oracle as
    :func:`pagerank_micro`; only the contribution differs."""
    if iterations < 1:
        raise ValueError(
            f"pagerank_weighted_micro requires iterations >= 1, "
            f"got {iterations}"
        )
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=False)  # consumed by wsum, nodes (×2), ed —
    # a caller-side weighted-edge aggregation would otherwise replay 4×
    wsum = e.groupBy("src").agg(F.sum("w").alias("wtot"))
    nodes = _node_set(e)
    ed = e.join(wsum, "src").localCheckpoint(eager=False)
    return _pagerank_levels(
        ed,
        nodes,
        r0=F.lit(scale),
        teleport=F.lit(_teleport_base(damping_pct, scale)),
        contrib=F.expr(f"({damping_pct} * r * w) DIV (100 * wtot)"),
        iterations=iterations,
    )[-1]


def triangle_stats(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    cc_scale: int = 10**6,
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over an
    UNDIRECTED graph given as canonical pairs (a < b, pre-deduplicated).

    Algorithm: degree-ordered orientation (compact-forward / node-
    iterator, Schank & Wagner 2005) — orient every undirected edge from
    its lower-(degree, id) endpoint to the higher, enumerate wedges by
    joining the forward list with itself on the middle node, and close
    each wedge against the canonical edge set.  Each triangle is found
    exactly once (at its unique lowest-ordered apex), and total wedge
    work is O(m^{3/2}) regardless of degree skew — the property that
    makes this THE distributed triangle algorithm: a hub of degree d
    contributes ~sqrt(m) forward edges, not d², so one skewed celebrity
    node cannot blow up a join.  All three joins shuffle on node/pair
    keys; nothing is collected.

    Everything is integral: the clustering coefficient is emitted in
    parts-per-``cc_scale`` via truncating division,
    ``cc = (2·T·cc_scale) DIV (d·(d−1))`` (0 when d < 2), so the whole
    output is engine-exact and ANSI-SQL-replayable with plain joins —
    no iteration, no floats.

    Returns (node, degree, triangles, cc_ppm) for every node of the
    graph, including triangle-free ones.
    """
    e = edges.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
    ).localCheckpoint(eager=False)  # consumed by und (×2), closure join —
    # without the cut, an expensive caller-side edge derivation (e.g. the
    # kNN blocked gemm) replays once per branch
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    # forward orientation: (deg, id)-lexicographic
    fwd = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("degree", "da")
        .join(
            deg.select(
                F.col("node").alias("b"), F.col("degree").alias("db")
            ),
            "b",
        )
        .where(F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b")))
        .select("a", "b")
        .localCheckpoint(eager=False)  # consumed twice (both wedge arms)
    )
    # wedges apex a: a->b, b->c  (a before b before c in the order)
    wedges = fwd.alias("w1").join(
        fwd.alias("w2"), F.col("w1.b") == F.col("w2.a")
    ).select(
        F.col("w1.a").alias("a"),
        F.col("w1.b").alias("b"),
        F.col("w2.b").alias("c"),
    )
    tri = wedges.join(
        e.select(F.col("a").alias("ca"), F.col("b").alias("cb")),
        (F.least("a", "c") == F.col("ca")) & (F.greatest("a", "c") == F.col("cb")),
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                f"(2 * coalesce(triangles, 0) * {cc_scale}) "
                f"DIV (degree * (degree - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("cc_ppm"),
    )


def link_prediction_scores(
    edges: DataFrame,
    top: int = 50,
    a_col: str = "a",
    b_col: str = "b",
    micro: int = 10**6,
) -> DataFrame:
    """Top-``top`` NON-adjacent node pairs by Adamic-Adar score over an
    undirected graph (canonical a < b pairs, pre-deduplicated) — the
    classic link-prediction triple (Liben-Nowell & Kleinberg 2003):

        cn(a,b)       = |Γ(a) ∩ Γ(b)|                 (common neighbors)
        aa_micro(a,b) = Σ_{z ∈ Γ(a)∩Γ(b)} round(micro / ln(deg z))
        jaccard_ppm   = cn·micro DIV (deg a + deg b − cn)

    Candidate pairs are generated through the graph (two-hop wedge join
    on the shared middle node), never by all-pairs enumeration — pair
    count is Σ_z deg(z)², the open-wedge count, and a per-middle-node
    degree cap (standard practice) bounds it under skew at true scale.
    Known edges are removed with a broadcast-able anti-join on the
    canonical pair.

    Engine-exactness: deg(z) ≥ 2 for any shared neighbor (adjacent to
    both a and b), so ln is always of an integer-valued double ≥ 2 —
    rendered identically across engines (the repo's established micro-
    nat pattern) — and quantized ONCE per middle node before the
    per-pair integer sum.  The final cut orders by the full column set
    (aa_micro DESC, cn DESC, a, b) so the top-``top`` boundary is
    deterministic.

    Returns (a, b, cn, aa_micro, jaccard_ppm), ``top`` rows.
    """
    e = edges.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
    ).localCheckpoint(eager=False)  # consumed by und (×2 wedge arms),
    # deg, and the known-edge anti-join — cut the caller's derivation once
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    # a wedge middle is adjacent to both endpoints, so deg >= 2 there;
    # filter BEFORE the division (ln(1) = 0 would trip ANSI mode on
    # degree-1 nodes that can never be middles anyway)
    inv_ln = deg.where(F.col("degree") >= 2).select(
        F.col("node").alias("z"),
        F.expr(
            f"CAST(ROUND({micro} / ln(CAST(degree AS DOUBLE))) AS BIGINT)"
        ).alias("ilz"),
    )
    # wedges through middle z: (x, z), (z, y) with x < y → candidate (x, y)
    w = (
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
        .alias("l")
        .join(
            und.select(F.col("a").alias("z"), F.col("b").alias("y")).alias("r"),
            "z",
        )
        .where(F.col("x") < F.col("y"))
        .join(inv_ln, "z")
    )
    scored = w.groupBy(F.col("x").alias("a"), F.col("y").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("ilz").cast("long").alias("aa_micro"),
    )
    non_edges = scored.join(e, ["a", "b"], "left_anti")
    out = (
        non_edges.join(
            deg.select(F.col("node").alias("a"), F.col("degree").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("degree").alias("db")),
            "b",
        )
        .select(
            "a",
            "b",
            "cn",
            "aa_micro",
            F.expr(f"(cn * {micro}) DIV (da + db - cn)").alias("jaccard_ppm"),
        )
    )
    return out.orderBy(
        F.col("aa_micro").desc(), F.col("cn").desc(), "a", "b"
    ).limit(top)


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Seeded SYNCHRONOUS label propagation over an undirected graph
    (canonical a < b pairs): semi-supervised label spreading (Zhu &
    Ghahramani 2002 hard-label variant) — the weak-supervision pattern
    for propagating sparse trusted annotations (language tags, quality
    labels, topic marks) across a similarity graph.

    ``seeds``: (node, label) with INTEGER labels; seed labels are
    clamped (never change).  Each round, every non-seed node takes the
    PLURALITY label among its neighbors' previous-round labels, ties
    broken by the smallest label; nodes with no labeled neighbor stay
    unlabeled.  Synchronous update + deterministic tie-break makes K
    rounds bit-identical on any engine (async LPA is schedule-dependent
    — useless for an oracle), so the whole run unrolls into K CTEs.

    One round = one join of the edge list with the label vector plus one
    plurality aggregate — the PageRank shuffle shape; the argmax is the
    hash-aggregate ``max(struct(cnt, -label))`` (no window, no sort).
    Returns (node, label) for every node, label NULL where propagation
    never reached."""
    if rounds < 1:
        raise ValueError(f"label_propagation requires rounds >= 1, got {rounds}")
    e = edges.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
    )
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    nodes = und.select(F.col("a").alias("node")).distinct().localCheckpoint(
        eager=False
    )
    sd = seeds.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    ).localCheckpoint(eager=False)
    labels = nodes.join(sd, "node", "left")  # (node, label|NULL)
    # r13 negative result: the _vector_hint plan-time broadcast that
    # wins 15-37% on the pagerank/HITS loops measured FLAT here
    # (label_propagation 4.20 -> 4.16 s) and -22% on
    # label_propagation_ann (5.83 -> 7.12 s): the decision's
    # nodes.count() forces the expensive upstream ANN edge derivation
    # to materialize in an extra early job.  Left on the AQE shape.
    for _ in range(rounds):
        votes = (
            und.join(
                labels.where(F.col("label").isNotNull()).select(
                    F.col("node").alias("a"), "label"
                ),
                "a",
            )
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).cast("long").alias("plur"))
        )
        labels = (
            nodes.join(sd, "node", "left")
            .join(votes, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("label"), F.col("plur")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return labels


def hits_micro(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """K-iteration integer-grid HITS (Kleinberg 1999): hubs point to
    good authorities, authorities are pointed to by good hubs.

    The float fixpoint normalizes by the L2 norm each iteration — an
    order-dependent float sum.  This implementation normalizes by the
    MAX on an integer grid instead:

        a_raw(v) = Σ_{u→v} h(u)          (exact BIGINT sum)
        a(v)     = (a_raw(v) · scale) DIV max_v a_raw(v)
        h_raw(u) = Σ_{u→v} a(v)          (with the NEW a)
        h(u)     = (h_raw(u) · scale) DIV max_u h_raw(u)

    Max-normalization keeps the same ranking as L2 (both are positive
    rescalings) while every quantity stays a BIGINT — K iterations are
    bit-identical on any engine and CTE-unrollable for the oracle.

    Overflow bound: raw ≤ max_degree · scale, and the rescale
    multiplies by ``scale`` before DIV — so max_degree · scale² must
    stay ≪ 2^63.  The 1e6 default grid supports max degree ~9e6; for
    denser graphs at 100 TB, drop ``scale`` (ranking granularity trades
    against headroom) — the recurrence is unchanged.

    100 TB shape mirrors pagerank_micro: per iteration, one broadcast-
    able join of the score vector onto the static (src, dst) edge list
    plus one map-side-combined SUM shuffle; the scalar MAX is a
    single-row broadcast.  Output: (node, hub_micro, auth_micro) for
    every node appearing as src or dst (nodes with no in-edges have
    authority 0; no out-edges, hub 0).
    """
    if iterations < 1:
        raise ValueError(
            f"hits_micro requires iterations >= 1, got {iterations}"
        )
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hubs = nodes.select("node", F.lit(scale).cast("long").alias("s"))
    bc = _vector_hint(nodes)  # r13: broadcast the |V|-bounded score /
    # normed vectors when they provably fit — measured 5.77 → 4.21 s
    # median on graph_hits at sf0.1, bit-identical output

    def _step(scores: DataFrame, join_on: str, emit: str) -> DataFrame:
        raw = (
            e.join(
                bc(scores.select(F.col("node").alias(join_on), "s")), join_on
            )
            .groupBy(F.col(emit).alias("node"))
            .agg(F.sum("s").alias("raw"))
            # referenced twice below (scalar MAX + normalize join) and
            # Spark recomputes both branches of a self-reference —
            # materialize once
            .localCheckpoint(eager=False)
        )
        mx = raw.agg(F.max("raw").alias("m"))
        normed = raw.crossJoin(F.broadcast(mx)).select(
            "node", F.expr(f"CAST((raw * {scale}) DIV m AS BIGINT)").alias("s")
        )
        return nodes.join(bc(normed), "node", "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("s")
        )

    auths = None
    for _ in range(iterations):
        auths = _step(hubs, "src", "dst").localCheckpoint(eager=False)
        hubs = _step(auths, "dst", "src").localCheckpoint(eager=False)
    return (
        hubs.select("node", F.col("s").alias("hub_micro"))
        .join(
            auths.select("node", F.col("s").alias("auth_micro")), "node"
        )
        .select("node", "hub_micro", "auth_micro")
    )


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    micro: int = 10**6,
) -> DataFrame:
    """Newman modularity of a node labeling, per community, on an exact
    integer grid — the standard quality score for community assignments
    (label propagation, Louvain, metadata partitions): how many more
    intra-community edges exist than a degree-preserving random graph
    would place.

        Q = Σ_c [ e_c/m − (d_c / 2m)² ]
          = Σ_c (4m·e_c − d_c²)  /  (4m²)

    so each community's numerator ``4m·e_c − d_c²`` is an exact BIGINT
    (cross-multiplication — the repo's float-threshold rule) and the
    reported ``q_micro`` is one truncating division.  Both engines
    truncate toward zero (negative contributions are real: a community
    with fewer internal edges than chance scores below 0).

    ``labels``: (node, label); NULL-labeled nodes are EXCLUDED and the
    graph restricted to edges with both endpoints labeled (m, degrees
    re-derived on the restriction — documented semantics).  Shape: two
    broadcast-able joins of labels onto the edge list + two hash
    aggregates; the per-community relation is tiny at any scale.

    Returns (label, n_nodes, e_in, d_tot, q_micro) per community —
    ``q_micro`` the community's modularity contribution in micro units;
    Σ q_micro ≈ overall Q·10⁶ (up to per-row truncation).
    """
    lab = labels.where(F.col("label").isNotNull()).select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("a"),
            F.col(b_col).cast("long").alias("b"),
        )
        .join(lab.select(F.col("node").alias("a"),
                         F.col("label").alias("la")), "a")
        .join(lab.select(F.col("node").alias("b"),
                         F.col("label").alias("lb")), "b")
        .localCheckpoint(eager=False)  # m, e_c, and degrees all read it
    )
    m = e.count()  # restricted undirected edge count (bounded driver scalar)
    e_in = (
        e.where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    deg = (
        e.select(F.col("a").alias("node"), F.col("la").alias("label"))
        .union(e.select(F.col("b").alias("node"), F.col("lb").alias("label")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("d_tot"),
            F.countDistinct("node").cast("long").alias("n_nodes"),
        )
    )
    return (
        deg.join(e_in, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
            "d_tot",
            F.expr(
                f"CAST(((4 * {m} * coalesce(e_in, 0) - d_tot * d_tot)"
                f" * {micro}) DIV (4 * {m} * {m}) AS BIGINT)"
            ).alias("q_micro"),
        )
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source breadth-first search, ``rounds`` unrolled hops: the
    crawl-frontier / influence-radius primitive (distance-to-seed is
    the classic crawl-scheduling and label-confidence feature; Broder
    2000's web-graph BFS).  Returns every node's hop distance to the
    NEAREST seed, −1 if unreached within ``rounds``.

    Scale shape: per round ONE edge⋈frontier join + distinct + an
    anti-join against the visited set — all shuffle-parallel, frontier
    state only (never the whole graph in the driver); lineage cut per
    round so round i+1 does not replay rounds 1..i.  The unrolled-round
    shape is exactly the LPA/PageRank iteration discipline, so the
    whole walk replays as unrolled CTEs in ANSI SQL.

    ``seeds``: a (node) DataFrame; seed rows not present in ``edges``
    still emit level 0 (an isolated seed is at distance 0 from itself).
    Output: (node, level) — level INT, every node of edges ∪ seeds.
    """
    if rounds < 1:
        raise ValueError(f"bfs_levels requires rounds >= 1, got {rounds}")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(seeds.select(F.col("node").cast("long")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    visited = (
        seeds.select(F.col("node").cast("long"))
        .distinct()
        .withColumn("level", F.lit(0))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("node")
    # r13: _vector_hint measured FLAT here (graph_bfs_levels
    # 5.41 -> 5.19 s, inside noise) — the frontier frames are already
    # small enough that AQE's runtime conversion captures the win; the
    # decision count only adds a job.  Left on the AQE shape.
    for i in range(1, rounds + 1):
        nxt = (
            e.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(i))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return (
        all_nodes.join(visited, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("level"), F.lit(-1)).cast("int").alias("level"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; Batagelj
    & Zaveršnik 2003), ``rounds`` unrolled: repeatedly remove nodes
    whose degree in the REMAINING subgraph is < k.  The k-core (nodes
    surviving to fixpoint) is the classic dense-region detector —
    community kernels, spam/link-farm cores, the "is this cluster load-
    bearing" audit on a similarity graph.

    ``edges`` must already contain both directions of each undirected
    edge.  Returns (node, peeled_round, in_kcore): peeled_round = the
    1-based round the node was removed, −1 for survivors; in_kcore =
    survivor flag.  If a round removes nothing the peel has CONVERGED
    and survivors are exactly the k-core; with bounded unrolling the
    caller pins convergence by checking no node carries
    peeled_round == rounds (the pytest does; on these graphs the peel
    settles in ≤ 3 rounds).  Fixed unrolling keeps the whole walk
    replayable as unrolled CTEs — the LPA/PageRank discipline.

    Scale shape: per round one degree aggregate over the surviving
    edge set + two semi-joins — all shuffle-parallel, lineage cut per
    round; the edge set only shrinks.
    """
    if rounds < 1:
        raise ValueError(f"kcore_peel requires rounds >= 1, got {rounds}")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint(eager=False)
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    alive = all_nodes
    peeled = None  # (node, peeled_round)
    cur_edges = e
    # r13 negative result: the _vector_hint plan-time broadcast measured
    # -21% HERE (graph_kcore 6.41 -> 7.74 s): four broadcast builds per
    # peel round (deg, now, alive x2) are serial driver jobs that cost
    # more than the exchanges they remove.  Left on the AQE shape.
    for i in range(1, rounds + 1):
        deg = cur_edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("__d")
        )
        now = (
            alive.join(deg, "node", "left")
            .where(F.coalesce(F.col("__d"), F.lit(0)) < k)
            .select("node")
            .withColumn("peeled_round", F.lit(i))
            .localCheckpoint(eager=False)
        )
        peeled = now if peeled is None else peeled.unionByName(now)
        alive = alive.join(now.select("node"), "node", "left_anti").localCheckpoint(
            eager=False
        )
        cur_edges = (
            cur_edges.join(alive.select(F.col("node").alias("src")), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return (
        all_nodes.join(peeled, "node", "left")
        .select(
            "node",
            F.coalesce("peeled_round", F.lit(-1)).cast("int").alias(
                "peeled_round"
            ),
            F.col("peeled_round").isNull().alias("in_kcore"),
        )
    )


def bellman_ford(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Multi-source shortest paths, ``rounds`` unrolled Bellman-Ford
    relaxations over non-negative INTEGER edge weights: the weighted
    sibling of :func:`bfs_levels` (hop distance → cost distance).  With
    integer weights every relaxation is exact BIGINT min/add, so the
    distances replay bit-for-bit in unrolled CTEs — no float
    accumulation anywhere.

    After R rounds the distance is exact for every node whose shortest
    path uses ≤ R edges (the standard Bellman-Ford invariant);
    unreached nodes emit −1.  Scale shape: per round one edge⋈dist
    join + a min-combine aggregate (map-side combinable), lineage cut
    per round; distance state only, never the graph in the driver.

    Returns (node, dist) over all edge endpoints ∪ seeds; seeds at 0.
    """
    if rounds < 1:
        raise ValueError(f"bellman_ford requires rounds >= 1, got {rounds}")
    wv = F.col(weight_col).cast("long")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        # Enforce the documented non-negative contract in-plan (no extra
        # job): a negative weight would make the -1 'unreached' sentinel
        # ambiguous with a legitimate distance, so fail loudly per-row
        # instead of corrupting silently (r9 ADVICE).  NULL weights take
        # the same error arm — coalesce the rendered value so the
        # message stays informative instead of concat-propagating NULL
        # into raise_error (r10 ADVICE).
        F.when(wv >= 0, wv)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("bellman_ford requires non-negative weights, got "),
                    F.coalesce(wv.cast("string"), F.lit("NULL")),
                )
            ).cast("long")
        )
        .alias("w"),
    ).localCheckpoint(eager=False)
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(seeds.select(F.col("node").cast("long")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = (
        seeds.select(F.col("node").cast("long"))
        .distinct()
        .withColumn("d", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    # r13: _vector_hint measured neutral-to-negative here
    # (graph_shortest_paths 5.16 -> 5.44 s) — the relaxation unions into
    # a single min-combine shuffle per round with no |V|-wide merge
    # join, so there is little exchange to remove.  Left on the AQE
    # shape.
    for _ in range(rounds):
        relaxed = (
            e.join(dist.select(F.col("node").alias("src"), "d"), "src")
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return (
        all_nodes.join(dist, "node", "left")
        .select(
            "node",
            F.coalesce("d", F.lit(-1)).cast("long").alias("dist"),
        )
    )
