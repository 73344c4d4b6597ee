"""Operator tests over FIXTURES-style hand-written rows: routing splits,
left-join null attrs, hierarchy flatten, window bucketing boundaries."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from icebergproject_spark.operators import (
    broadcast_route,
    discriminator_filter,
    enrich_left,
    extract_map_payload,
    flatten_two_level,
    group_sum_points,
    reject_nulls,
    tumbling_window_count,
)


def test_extract_map_payload(spark):
    df = spark.createDataFrame(
        [("browselog", {"logTime": "1655274222161", "userId": "uid813665", "frontProductUrl": ""})],
        ["logtype", "data"],
    )
    out = extract_map_payload(
        df, "data", {"logTime": "log_time", "userId": "user_id", "missing": "gone"}
    ).collect()[0]
    assert out.log_time == "1655274222161"
    assert out.user_id == "uid813665"
    assert out.gone is None  # absent key ⇒ null


def test_broadcast_route_split(spark):
    facts = spark.createDataFrame(
        [
            ("lakehousedb", "mc_member_info", "1"),
            ("lakehousedb", "mc_user_login", "2"),
            ("otherdb", "mc_member_info", "3"),
        ],
        ["database", "table", "id"],
    )
    config = spark.createDataFrame(
        [("lakehousedb:mc_member_info", "user_id", "DIM_MEMBER_INFO")],
        ["config_key", "pk_col", "sink"],
    )
    dim, fact = broadcast_route(facts, config, ["database", "table"], "config_key")
    dim_rows = dim.collect()
    assert len(dim_rows) == 1 and dim_rows[0].id == "1"
    assert dim_rows[0].pk_col == "user_id"  # enriched with config cols
    fact_ids = {r.id for r in fact.collect()}
    assert fact_ids == {"2", "3"}
    assert fact.columns == facts.columns  # config cols dropped


def test_enrich_left_missing_dim_nulls(spark):
    login = spark.createDataFrame([("u1",), ("u2",)], ["user_id"])
    member = spark.createDataFrame([("u1", "gold")], ["user_id", "member_level"])
    wide = enrich_left(login, member, on="user_id", attrs=["member_level"])
    rows = {r.user_id: r.member_level for r in wide.collect()}
    assert rows == {"u1": "gold", "u2": None}


def test_flatten_two_level(spark):
    cat = spark.createDataFrame(
        [("14000", "14", "repair"), ("14", None, "autoparts")],
        ["id", "p_id", "name"],
    )
    flat = flatten_two_level(cat, "id", "p_id", "name").collect()
    assert len(flat) == 1
    assert flat[0].second_level_name == "repair"
    assert flat[0].first_level_name == "autoparts"


def test_group_sum_points_cast(spark):
    df = spark.createDataFrame(
        [("2022-01-01", "u1", "42"), ("2022-01-01", "u1", "8")],
        ["log_time", "user_id", "obtain_points"],
    )
    out = group_sum_points(df, ["log_time", "user_id"]).collect()[0]
    assert out.total_points == 50


def test_tumbling_window_boundaries(spark):
    # 09.999 and 10.000 land in different 10s buckets
    df = spark.createDataFrame(
        [("2022-01-01 00:00:09.999", "p"), ("2022-01-01 00:00:10.000", "p")],
        ["t", "key"],
    ).select(F.col("t").cast("timestamp").alias("ts"), "key")
    out = tumbling_window_count(df, "ts", ["key"], "10 seconds").collect()
    starts = sorted(r.window_start for r in out)
    assert starts == ["2022-01-01 00:00:00", "2022-01-01 00:00:10"]
    assert all(r.product_cnt == 1 for r in out)
    ends = sorted(r.window_end for r in out)
    assert ends == ["2022-01-01 00:00:10", "2022-01-01 00:00:20"]


def test_discriminator_and_nulls(spark):
    df = spark.createDataFrame(
        [("browselog", "u1"), ("otherlog", "u2"), ("browselog", None)],
        ["logtype", "user_id"],
    )
    assert discriminator_filter(df, "logtype", "browselog").count() == 2
    assert reject_nulls(df, ["user_id"]).count() == 2


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed by the key at write time ⇒
    the join plan contains zero Exchange (the 100 TB fact⋈fact path)."""
    from icebergproject_spark.operators.bucketing import colocated_join, write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    # at real scale neither side broadcasts — force the sort-merge path the
    # tiny fixture would otherwise broadcast away
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(orders, "bkt_orders", "o_orderkey", num_buckets=4)
        write_bucketed(lineitem, "bkt_lineitem", "o_orderkey", num_buckets=4)
        joined = colocated_join(spark, "bkt_orders", "bkt_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # sanity: same row count as the shuffled join
        expected = orders.join(lineitem, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_zvalue_interleaves_bits(spark):
    from icebergproject_spark.operators.zorder import zvalue

    df = spark.createDataFrame([(0b101, 0b011)], ["a", "b"]).select(
        zvalue("a", "b", bits=3).alias("z")
    )
    # a=101, b=011 → z bits (a2 b2 a1 b1 a0 b0) = 1 0 0 1 1 1
    assert df.collect()[0].z == 0b100111


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Pruning evidence: with a Z-ordered layout a predicate on EITHER
    key intersects few files' min-max ranges; with a single-column sort
    the second key's predicate touches every file."""
    import glob

    import pyarrow.parquet as pq

    from icebergproject_spark.operators.zorder import zorder_write

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "linear")
    zorder_write(li, zpath, "l_partkey", "l_suppkey", num_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def files_touched(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
        touched = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                stats = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(rg)
                    .column(i)
                    .statistics
                    for i in range(md.row_group(rg).num_columns)
                }[col]
                total += 1
                if stats.min <= hi and stats.max >= lo:
                    touched += 1
        return touched, total

    # point-ish band: l_suppkey spans 0..9 in the fixture, so [0, 0] is
    # the realistic "one supplier" lookup
    z_touch, z_total = files_touched(zpath, "l_suppkey", 0, 0)
    l_touch, l_total = files_touched(lpath, "l_suppkey", 0, 0)
    assert l_touch == l_total  # single-column sort: no pruning on 2nd key
    assert z_touch < z_total // 2  # z-order: most row groups pruned
    # and the first key still prunes too
    p_touch, p_total = files_touched(zpath, "l_partkey", 0, 20)
    assert p_touch < p_total // 2


def test_constraint_checks_catch_violations(spark):
    """Each rule kind counts its violations on a crafted bad dataset."""
    from icebergproject_spark.quality import check_constraints

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 10), (None, "c", 99), (3, None, -5)],
        ["id", "name", "qty"],
    )
    ref = spark.createDataFrame([("a",), ("b",)], ["k"])
    rules = [
        {"rule": "id_not_null", "kind": "not_null", "col": "id"},
        {"rule": "id_unique", "kind": "unique", "cols": ["id"]},
        {"rule": "qty_range", "kind": "in_range", "col": "qty", "lo": 0, "hi": 50},
        {"rule": "name_fk", "kind": "foreign_key", "col": "name",
         "ref": ref, "ref_col": "k"},
    ]
    got = {r.rule: r.n_violations for r in check_constraints(df, rules).collect()}
    assert got == {
        "id_not_null": 1,   # the None id
        "id_unique": 1,     # id=1 appears twice -> 1 extra row
        "qty_range": 2,     # 99 and -5
        "name_fk": 1,       # 'c' not in ref (None fk is not a violation)
    }


def test_column_profile_approx_mode(spark, sf_dir):
    """HLL NDV (the 100 TB path) lands within 20% of exact."""
    from icebergproject_spark.quality import column_profile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = {r.col_name: r.n_distinct
             for r in column_profile(orders, ["o_orderkey", "o_orderstatus"]).collect()}
    approx = {r.col_name: r.n_distinct
              for r in column_profile(orders, ["o_orderkey", "o_orderstatus"],
                                      approx=True).collect()}
    for c in exact:
        assert abs(approx[c] - exact[c]) <= max(1, exact[c] * 0.2)


def test_hdr_sketch_buckets_and_bounds(spark):
    """Bucket id is monotone in the value; [lo, hi] contains every value
    mapped to the bucket; values below 2^sub_bits are represented
    EXACTLY (lo = hi = value)."""
    from icebergproject_spark.operators.aggregates import hdr_sketch

    vals = [1, 2, 3, 63, 64, 65, 127, 128, 1000, 10**6, 10**9]
    # check bucket bounds per value through the sketch on singletons
    for v in vals:
        one = hdr_sketch(
            spark.createDataFrame([("g", v)], ["g", "v"]), "v", ["g"]
        ).collect()[0]
        assert one.lo <= v <= one.hi
        if v < 64:
            assert one.lo == one.hi == v  # sub-octave exactness
    # monotone: sort values, buckets must be non-decreasing
    buckets = [
        hdr_sketch(
            spark.createDataFrame([("g", v)], ["g", "v"]), "v", ["g"]
        ).collect()[0].bucket
        for v in sorted(vals)
    ]
    assert buckets == sorted(buckets)


def test_hdr_sketch_merges_by_adding_counts(spark):
    """Partial sketches over any split of the data merge by SUMMING
    counts into exactly the global sketch (the mergeability contract
    that makes the 100 TB map-side-combine shape correct)."""
    from icebergproject_spark.operators.aggregates import hdr_sketch

    rows = [("a", 7 * i % 997 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, ["g", "v"])
    whole = {
        (r.g, r.bucket): r.cnt for r in hdr_sketch(df, "v", ["g"]).collect()
    }
    rows1, rows2 = rows[:200], rows[200:]
    merged: dict = {}
    for part in (rows1, rows2):
        for r in hdr_sketch(
            spark.createDataFrame(part, ["g", "v"]), "v", ["g"]
        ).collect():
            merged[(r.g, r.bucket)] = merged.get((r.g, r.bucket), 0) + r.cnt
    assert merged == whole


def test_hdr_quantiles_error_envelope_and_adversarial(spark):
    """Estimated quantiles vs a pure-Python replay of the exact ranks:
    err_bp within the 2^-sub_bits relative-error bound (with the k=6
    half-bucket slack), in_bucket invariant always 1, and the
    adversarial shapes — all-equal values, exact powers of two at
    octave boundaries, a two-point bimodal — behave."""
    from icebergproject_spark.operators.aggregates import hdr_quantiles_audit

    cases = {
        "uniformish": [(i * 37) % 5000 + 1 for i in range(1, 800)],
        "all_equal": [4242] * 100,
        "pow2_edges": [2**k for k in range(1, 20) for _ in range(5)],
        "bimodal": [10] * 50 + [10**8] * 50,
    }
    rows = [(g, v) for g, vs in cases.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = hdr_quantiles_audit(df, "v", "g")
    got = {(r.g, r.q_pct): r for r in out.collect()}
    for g, vs in cases.items():
        s = sorted(vs)
        n = len(s)
        for q in (1, 5, 25, 50, 75, 95, 99):
            r = got[(g, q)]
            exact = s[(q * n + 99) // 100 - 1]
            assert r.exact == exact, (g, q)
            assert r.in_bucket == 1, (g, q)
            # relative error bound: half bucket width each side; bucket
            # width <= 2^k/64 + 1 around the exact value
            k = exact.bit_length() - 1
            width = max(1, (1 << k) // 64 + 1)
            assert abs(r.est - exact) <= width, (g, q, r.est, exact)
    # all-equal: every quantile estimate within one sub-bucket of 4242
    for q in (1, 50, 99):
        assert abs(got[("all_equal", q)].est - 4242) <= (4096 // 64 + 1)


# --- blocked_fuzzy_match ----------------------------------------------------

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_match_best_and_tiebreak(spark):
    from icebergproject_spark.operators.fuzzy import blocked_fuzzy_match

    dirty = spark.createDataFrame(
        [(1, "smal ring"), (2, "red widgt")], ["dirty_id", "dirty_name"]
    )
    clean = spark.createDataFrame(
        [(10, "small ring"), (11, "smalt ring"), (20, "red widget")],
        ["clean_id", "clean_name"],
    )
    # dirty 1 is at distance 1 from BOTH "small ring" (insert l) and
    # "smalt ring" (insert t): tie -> min clean_id = 10
    assert _lev("smal ring", "small ring") == 1
    assert _lev("smal ring", "smalt ring") == 1
    got = {r.dirty_id: (r.clean_id, r.clean_name, r.dist)
           for r in blocked_fuzzy_match(dirty, clean).collect()}
    assert got == {1: (10, "small ring", 1), 2: (20, "red widget", 1)}


def test_fuzzy_match_blocking_is_the_recall_contract(spark):
    """A pair sharing NO token is never considered, even within the
    distance tolerance — the documented blocking trade-off."""
    from icebergproject_spark.operators.fuzzy import blocked_fuzzy_match

    dirty = spark.createDataFrame([(1, "abc xyz")], ["dirty_id", "dirty_name"])
    clean = spark.createDataFrame(
        [(9, "abd xyw")], ["clean_id", "clean_name"]
    )
    assert _lev("abc xyz", "abd xyw") == 2
    assert blocked_fuzzy_match(dirty, clean).count() == 0


def test_fuzzy_match_distance_threshold(spark):
    from icebergproject_spark.operators.fuzzy import blocked_fuzzy_match

    dirty = spark.createDataFrame([(1, "alpha beta")], ["dirty_id", "dirty_name"])
    clean = spark.createDataFrame(
        [(5, "alpha gamma")], ["clean_id", "clean_name"]
    )
    # shares token "alpha" -> blocked in; distance 5 > 2 -> verified out
    assert blocked_fuzzy_match(dirty, clean, max_dist=2).count() == 0
    assert blocked_fuzzy_match(dirty, clean, max_dist=5).count() == 1


# --- lag_autocorr -----------------------------------------------------------

def test_lag_autocorr_ramp_and_alternating(spark):
    import pyspark.sql.functions as F

    from icebergproject_spark.operators.aggregates import lag_autocorr

    rows = []
    for i in range(40):
        rows.append(("ramp", i, float(i)))          # linear: r = 1 at any lag
        rows.append(("alt", i, float(1 if i % 2 == 0 else -1)))
        rows.append(("const", i, 7.0))              # zero variance -> NULL
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = lag_autocorr(df, "v", ["g"], [F.col("t")], lags=(1, 2))
    got = {(r.g, r.lag): (r.n_pairs, r.autocorr) for r in out.collect()}
    assert got[("ramp", 1)] == (39, 1.0)
    assert got[("ramp", 2)] == (38, 1.0)
    assert got[("alt", 1)] == (39, -1.0)
    assert got[("alt", 2)] == (38, 1.0)
    assert got[("const", 1)][1] is None
    assert got[("const", 2)][1] is None


def test_lag_autocorr_matches_numpy(spark):
    import numpy as np
    import pyspark.sql.functions as F

    from icebergproject_spark.operators.aggregates import lag_autocorr

    vals = [round(((i * 37 + 11) % 101) / 7.0, 2) for i in range(200)]
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)], "g string, t long, v double"
    )
    out = lag_autocorr(df, "v", ["g"], [F.col("t")], lags=(1, 3))
    got = {r.lag: r.autocorr for r in out.collect()}
    xq = np.array([round(v * 100) for v in vals], dtype=np.int64)
    for k in (1, 3):
        want = np.corrcoef(xq[:-k], xq[k:])[0, 1]
        assert abs(got[k] - round(want, 6)) <= 1e-6


def test_lag_autocorr_survives_repartitioning(spark):
    """Same result under a hostile input partitioning (the rank path
    must not depend on physical layout)."""
    import pyspark.sql.functions as F

    from icebergproject_spark.operators.aggregates import lag_autocorr

    rows = [("a", i, float((i * 13 + 5) % 17)) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    base = {(r.g, r.lag): r.autocorr
            for r in lag_autocorr(df, "v", ["g"], [F.col("t")]).collect()}
    shuffled = df.repartition(7, "v")
    got = {(r.g, r.lag): r.autocorr
           for r in lag_autocorr(shuffled, "v", ["g"], [F.col("t")]).collect()}
    assert got == base


# --- theil_sen_trend --------------------------------------------------------

def test_theil_sen_known_median(spark):
    from icebergproject_spark.operators.aggregates import theil_sen_trend

    df = spark.createDataFrame(
        [("g", 0, 0), ("g", 1, 1), ("g", 2, 10)], "g string, x long, y long"
    )
    # pairwise slopes: 1/1=1, 10/2=5, 9/1=9 -> median 5
    rows = theil_sen_trend(df, ["g"], "x", "y").collect()
    assert rows[0].n_pairs == 3 and rows[0].slope == 5.0


def test_theil_sen_is_outlier_robust(spark):
    """A perfect slope-2 line with one wild outlier: OLS would bend,
    the pairwise-slope median does not."""
    from icebergproject_spark.operators.aggregates import theil_sen_trend

    pts = [("g", i, 2 * i) for i in range(9)] + [("g", 9, 1000)]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    rows = theil_sen_trend(df, ["g"], "x", "y").collect()
    assert rows[0].slope == 2.0


def test_theil_sen_groups_independent(spark):
    from icebergproject_spark.operators.aggregates import theil_sen_trend

    pts = [("up", i, 3 * i) for i in range(5)] + [
        ("down", i, -i) for i in range(5)
    ]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    got = {r.g: r.slope for r in theil_sen_trend(df, ["g"], "x", "y").collect()}
    assert got == {"up": 3.0, "down": -1.0}


# --- cusum_changepoint ------------------------------------------------------

def _cusum_ref(vals, quant=100):
    """Pure-Python replay of the n*S_t - t*S_n argmax (earliest id on
    ties via the -id tiebreak)."""
    xq = [round(v * quant) for v in vals]
    n, sn = len(xq), sum(xq)
    best = None
    s = 0
    for t, x in enumerate(xq, 1):
        s += x
        d = abs(n * s - t * sn)
        key = (d, -(t - 1))  # ids are 0-based positions here
        if best is None or key > best[0]:
            best = (key, t - 1, d)
    return best[1], best[2]


def test_cusum_step_series(spark):
    import pyspark.sql.functions as F

    from icebergproject_spark.operators.aggregates import cusum_changepoint

    vals = [0.0] * 4 + [10.0] * 4
    df = spark.createDataFrame(
        [("g", i, i, v) for i, v in enumerate(vals)],
        "g string, t long, id long, v double",
    )
    out = cusum_changepoint(
        df, "v", ["g"], [F.col("t")], tiebreak_expr="-id",
        payload_cols=[("cp_id", "id")],
    ).collect()[0]
    want_idx, want_d = _cusum_ref(vals)
    assert out.cp_id == want_idx == 3  # last pre-shift row
    assert out.dmax == want_d and out.n == 8


def test_cusum_matches_python_replay(spark):
    import pyspark.sql.functions as F

    from icebergproject_spark.operators.aggregates import cusum_changepoint

    vals = [round(((i * 29 + 7) % 83) / 3.0 + (5.0 if i > 60 else 0.0), 2)
            for i in range(100)]
    df = spark.createDataFrame(
        [("g", i, i, v) for i, v in enumerate(vals)],
        "g string, t long, id long, v double",
    )
    out = cusum_changepoint(
        df, "v", ["g"], [F.col("t")], tiebreak_expr="-id",
        payload_cols=[("cp_id", "id")],
    ).collect()[0]
    want_idx, want_d = _cusum_ref(vals)
    assert (out.cp_id, out.dmax) == (want_idx, want_d)


def test_cusum_constant_series_ties_to_earliest(spark):
    import pyspark.sql.functions as F

    from icebergproject_spark.operators.aggregates import cusum_changepoint

    df = spark.createDataFrame(
        [("g", i, i, 7.0) for i in range(10)],
        "g string, t long, id long, v double",
    )
    out = cusum_changepoint(
        df, "v", ["g"], [F.col("t")], tiebreak_expr="-id",
        payload_cols=[("cp_id", "id")],
    ).collect()[0]
    assert out.dmax == 0 and out.cp_id == 0


# --- benford_profile --------------------------------------------------------

def test_benford_profile_counts_and_expectation(spark):
    import math

    from icebergproject_spark.operators.aggregates import benford_profile

    # one value per leading digit + a non-positive row that must drop
    df = spark.createDataFrame(
        [(float(d) * 10 ** (d % 3),) for d in range(1, 10)] + [(0.0,)],
        "v double",
    )
    rows = benford_profile(df, "v").collect()
    got = {r.digit: (r.cnt, r.obs_ppm, r.exp_ppm) for r in rows}
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        assert got[d][0] == 1
        assert got[d][1] == 10**6 // 9 == 111111
        assert got[d][2] == round(10**6 * math.log10(1 + 1 / d))


def test_benford_chi2_zero_on_perfect_distribution(spark):
    """A corpus whose observed ppm equals the Benford ppm exactly gives
    chi2_term 0 for every digit (integer division floors small gaps)."""
    import math

    from icebergproject_spark.operators.aggregates import benford_profile

    # counts proportional to the Benford masses out of 10^6 scale
    rows = []
    for d in range(1, 10):
        rows.extend([(float(d),)] * round(1000 * math.log10(1 + 1 / d)))
    df = spark.createDataFrame(rows, "v double")
    out = benford_profile(df, "v").collect()
    assert all(r.chi2_term <= 1 for r in out)  # quantization floor only


def test_lag_autocorr_rejects_bad_lags(spark):
    import pyspark.sql.functions as F

    from icebergproject_spark.operators.aggregates import lag_autocorr

    df = spark.createDataFrame([("g", 0, 1.0)], "g string, t long, v double")
    with pytest.raises(ValueError):
        lag_autocorr(df, "v", ["g"], [F.col("t")], lags=(0,))
    with pytest.raises(ValueError):
        lag_autocorr(df, "v", ["g"], [F.col("t")], lags=())


# --- snm_fuzzy_match --------------------------------------------------------

def test_snm_finds_interior_corruption(spark):
    """Interior deletion keeps the sort prefix, so the window catches
    the match."""
    from icebergproject_spark.operators.fuzzy import snm_fuzzy_match

    dirty = spark.createDataFrame(
        [(1, "small rng")], ["dirty_id", "dirty_name"]
    )
    clean = spark.createDataFrame(
        [(10, "small ring"), (20, "red widget"), (30, "blue bolt")],
        ["clean_id", "clean_name"],
    )
    got = snm_fuzzy_match(dirty, clean, window=2).collect()
    assert len(got) == 1
    assert (got[0].clean_id, got[0].dist) == (10, 1)


def test_snm_misses_prefix_corruption_the_documented_tradeoff(spark):
    """A FIRST-character deletion moves the record across the sort
    order; with enough interposed records the window misses it — the
    documented SNM recall trade (token blocking finds this case)."""
    from icebergproject_spark.operators.fuzzy import (
        blocked_fuzzy_match,
        snm_fuzzy_match,
    )

    dirty = spark.createDataFrame(
        [(1, "mall ring")], ["dirty_id", "dirty_name"]  # 'small ring' - 's'
    )
    # interpose > window names between 'm...' and 's...'
    fillers = [(100 + i, f"n{chr(97 + i)} filler") for i in range(6)]
    clean = spark.createDataFrame(
        [(10, "small ring")] + fillers, ["clean_id", "clean_name"]
    )
    assert snm_fuzzy_match(dirty, clean, window=2).count() == 0
    assert blocked_fuzzy_match(dirty, clean).count() == 1  # token 'ring'


def test_snm_candidate_bound_respects_window(spark):
    """Every candidate pair is within the rank window by construction —
    tie-broken resolve still picks min (dist, clean_id)."""
    from icebergproject_spark.operators.fuzzy import snm_fuzzy_match

    dirty = spark.createDataFrame(
        [(1, "alpha bet")], ["dirty_id", "dirty_name"]
    )
    clean = spark.createDataFrame(
        [(10, "alpha beta"), (11, "alpha betb")],
        ["clean_id", "clean_name"],
    )
    got = snm_fuzzy_match(dirty, clean, window=4).collect()
    assert len(got) == 1 and got[0].clean_id == 10 and got[0].dist == 1


# --- ols_trend --------------------------------------------------------------

def test_ols_trend_exact_line(spark):
    from icebergproject_spark.operators.aggregates import ols_trend

    df = spark.createDataFrame(
        [("g", x, 2 * x + 3) for x in range(10)], "g string, x long, y long"
    )
    r = ols_trend(df, ["g"], "x", "y").collect()[0]
    assert (r.n, r.slope, r.intercept) == (10, 2.0, 3.0)


def test_ols_vs_theil_sen_divergence_on_burst(spark):
    """The shipped-pair contract: a burst bends OLS, not Theil-Sen."""
    from icebergproject_spark.operators.aggregates import (
        ols_trend,
        theil_sen_trend,
    )

    pts = [("g", x, 2 * x) for x in range(9)] + [("g", 9, 500)]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    ols = ols_trend(df, ["g"], "x", "y").collect()[0]
    ts = theil_sen_trend(df, ["g"], "x", "y").collect()[0]
    assert ts.slope == 2.0 and ols.slope > 10


def test_ols_trend_single_point_null_slope(spark):
    from icebergproject_spark.operators.aggregates import ols_trend

    df = spark.createDataFrame([("g", 5, 7)], "g string, x long, y long")
    r = ols_trend(df, ["g"], "x", "y").collect()[0]
    assert r.slope is None and r.intercept is None


# --- ks_drift ---------------------------------------------------------------

def _ks_ref(vals_ts, quant=100):
    """Pure-Python replay: split at epoch-ms midpoint, exact KS."""
    ms = [int(t) for t, _ in vals_ts]
    mid = (min(ms) + max(ms)) // 2
    h1 = sorted(round(v * quant) for t, v in vals_ts if int(t) <= mid)
    h2 = sorted(round(v * quant) for t, v in vals_ts if int(t) > mid)
    n1, n2 = len(h1), len(h2)
    xs = sorted(set(h1) | set(h2))
    best = (-1, None)
    import bisect
    for x in xs:
        c1 = bisect.bisect_right(h1, x)
        c2 = bisect.bisect_right(h2, x)
        d = abs(c1 * n2 - c2 * n1)
        if d > best[0] or (d == best[0] and x < best[1]):
            best = (d, x)
    return n1, n2, best[0] * 10**6 // (n1 * n2), best[1]


def test_ks_drift_matches_python_replay(spark):
    import datetime

    from icebergproject_spark.operators.aggregates import ks_drift

    base = datetime.datetime(2024, 1, 1)
    rows = []
    vals_ts = []
    for i in range(200):
        t = base + datetime.timedelta(minutes=i)
        # second half shifted +2.5
        v = ((i * 37 + 11) % 50) / 10.0 + (2.5 if i >= 100 else 0.0)
        rows.append(("g", t, v))
        vals_ts.append((t.timestamp() * 1000, v))
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    got = ks_drift(df, "v", ["g"], "ts").collect()[0]
    n1, n2, ksm, at = _ks_ref(vals_ts)
    assert (got.n1, got.n2, got.ks_micro, got.ks_at_q) == (n1, n2, ksm, at)
    assert got.ks_micro > 300000  # the shift is detected


def test_ks_drift_no_shift_is_small(spark):
    import datetime

    from icebergproject_spark.operators.aggregates import ks_drift

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("g", base + datetime.timedelta(minutes=i), ((i * 37 + 11) % 50) / 10.0)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    got = ks_drift(df, "v", ["g"], "ts").collect()[0]
    assert got.ks_micro < 150000  # same generator both halves


# --- gini_index -------------------------------------------------------------

def test_gini_equal_values_is_zero(spark):
    from icebergproject_spark.operators.aggregates import gini_index

    df = spark.createDataFrame(
        [("g", i, 100) for i in range(10)], "g string, id long, v long"
    )
    r = gini_index(df, "v", ["g"], "id").collect()[0]
    assert (r.n, r.total, r.gini_micro) == (10, 1000, 0)


def test_gini_total_concentration(spark):
    """One holder of everything: G = (n-1)/n exactly on the micro grid."""
    from icebergproject_spark.operators.aggregates import gini_index

    rows = [("g", i, 0) for i in range(9)] + [("g", 9, 1000)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    r = gini_index(df, "v", ["g"], "id").collect()[0]
    assert r.gini_micro == 9 * 10**6 // 10  # 0.9


def test_gini_matches_python_replay(spark):
    from icebergproject_spark.operators.aggregates import gini_index

    vals = [((i * 37 + 11) % 101) for i in range(50)]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], "g string, id long, v long"
    )
    r = gini_index(df, "v", ["g"], "id").collect()[0]
    xs = sorted(vals)
    n, total = len(xs), sum(xs)
    gnum = 2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * total
    want = (gnum * 1000) // (n * total) * 1000 + (
        ((gnum * 1000) % (n * total)) * 1000
    ) // (n * total)
    assert r.gini_micro == want == gnum * 10**6 // (n * total)


def test_dq_checks_fire_on_dirty_fixture(spark):
    """Every dq constraint detects its violation class on a
    deliberately dirty fixture — and pass_ppm arithmetic is exact."""
    from icebergproject_spark.operators import dq

    rows = [
        (1, "u1", "click", '{"k": 1}'),
        (1, "u2", "click", '{"k": 2}'),     # duplicate pk
        (3, None, "view", '{"k": 3}'),      # null user
        (4, "u4", "weird", "not-json"),     # bad domain + bad json
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, props string"
    )
    got = {
        (r.entity, r.check): (r.violations, r.total, r.pass_ppm)
        for r in dq.dq_suite(
            [
                dq.completeness(ev, "ev", "user_id"),
                dq.uniqueness(ev, "ev", "event_id"),
                dq.in_domain(ev, "ev", "event_type", ["click", "view"]),
                dq.json_parseable(ev, "ev", "props", "$.k"),
            ]
        ).collect()
    }
    assert got[("ev", "complete:user_id")] == (1, 4, 750000)
    assert got[("ev", "unique:event_id")] == (1, 4, 750000)
    assert got[("ev", "domain:event_type")] == (1, 4, 750000)
    assert got[("ev", "json:props.k")] == (1, 4, 750000)

    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    child = spark.createDataFrame([(1,), (1,), (2,), (9,), (None,)],
                                  "fk long").selectExpr("fk")
    fk = dq.fk_integrity(child, "child", "fk", parent, "pk").collect()[0]
    # the orphan is 9; NULL fk is a completeness concern, not an orphan
    assert (fk.violations, fk.total, fk.pass_ppm) == (1, 5, 800000)

    # empty table: nothing violates, ppm pegged at 1e6
    empty = spark.createDataFrame([], "x string")
    row = dq.completeness(empty, "e", "x").collect()[0]
    assert (row.violations, row.total, row.pass_ppm) == (0, 0, 1000000)


def test_fellegi_sunter_classifies_and_estimates(spark):
    """FS invariants on a hand corpus: (a) every dirty record's best
    candidate is its own source record, classified 'match' (full
    agreement vector, all-agreement score above +ln(10)); (b) a decoy
    that blocks to a candidate but agrees on nothing except one token
    classifies 'nonmatch' (all-disagreement weights are negative);
    (c) the u estimates are data-derived ppm in [1, 999999] and the
    output is partition-layout independent."""
    from icebergproject_spark.operators.fuzzy import fellegi_sunter_match

    clean_rows = [
        (i, f"alpha part unit{i} rev{i % 3}", f"B{i % 4}", 10 + i % 5)
        for i in range(1, 41)
    ]
    clean = spark.createDataFrame(
        clean_rows, ["clean_id", "clean_name", "brand", "size"]
    )
    # dirty = clean with one char deleted mid-name, attrs unchanged
    dirty_rows = [
        (i, name[:6] + name[7:], b, s) for i, name, b, s in clean_rows
    ]
    # decoy 999: shares the token 'alpha' only; attrs agree with nothing
    dirty_rows.append((999, "alpha zzz qqq www", "NOPE", -1))
    dirty = spark.createDataFrame(
        dirty_rows, ["dirty_id", "dirty_name", "brand", "size"]
    )
    m_ppm = {"name": 900_000, "brand": 950_000, "size": 950_000}
    out = {
        r.dirty_id: r
        for r in fellegi_sunter_match(
            dirty, clean, eq_fields=["brand", "size"], m_ppm=m_ppm
        ).collect()
    }
    for i, *_ in clean_rows:
        assert out[i].clean_id == i, (i, out[i])
        assert out[i].decision == "match"
        assert (out[i].g_name, out[i].g_brand, out[i].g_size) == (1, 1, 1)
        assert out[i].score_micro >= 2_302_585
    decoy = out[999]
    assert decoy.decision == "nonmatch"
    assert (decoy.g_name, decoy.g_brand, decoy.g_size) == (0, 0, 0)
    assert decoy.score_micro < 0
    r0 = out[1]
    for f in ("name", "brand", "size"):
        assert 1 <= getattr(r0, f"u_{f}_ppm") <= 999_999
    re_out = {
        r.dirty_id: r
        for r in fellegi_sunter_match(
            dirty.repartition(7), clean.repartition(5),
            eq_fields=["brand", "size"], m_ppm=m_ppm,
        ).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in re_out.items()
    }


def test_ewma_control_hand_series(spark):
    """EWMA invariants on a hand series: a constant series smooths to
    itself (resid 0, no alarm); the first day's head renormalizes to
    the value itself; a 10x step spike alarms on the spike day (the
    smoothed level lags, so the residual exceeds half of it); the
    weights favor RECENT values (post-spike EWMA closer to the new
    level than the old)."""
    from datetime import datetime as dt

    from icebergproject_spark.operators.aggregates import ewma_control

    rows = [("a", dt(2024, 1, d), 10.0) for d in range(1, 9)]
    rows += [("b", dt(2024, 1, d), 10.0) for d in range(1, 6)]
    rows += [("b", dt(2024, 1, 6), 100.0)]  # step spike
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = {
        (r.event_type, r.day): r
        for r in ewma_control(df, "value", ["event_type"]).collect()
    }
    for d in range(1, 9):
        r = out[("a", f"2024-01-0{d}")]
        assert r.ewma_q == 1000 and r.resid_q == 0 and r.alarm == 0
    first = out[("b", "2024-01-01")]
    assert first.ewma_q == 1000  # head renormalization: den = w_0 only
    spike = out[("b", "2024-01-06")]
    assert spike.alarm == 1 and spike.resid_q > 0
    # recency weighting: smoothed level after the spike is far above
    # the old level (current-day weight dominates the chain)
    assert spike.ewma_q > 1000 * 2


def test_parse_bytes_conf_suffixes():
    """r14: the spread guard's conf parser must honor Spark's full byte
    suffix set (VERDICT r13 what's-wrong #4 — '512k' silently became the
    128 MB default under the r13 string-replace parser)."""
    from icebergproject_spark.tables import _parse_bytes_conf

    assert _parse_bytes_conf("134217728") == 134217728
    assert _parse_bytes_conf("128m") == 128 * 1024 * 1024
    assert _parse_bytes_conf("128MB") == 128 * 1024 * 1024
    assert _parse_bytes_conf("512k") == 512 * 1024
    assert _parse_bytes_conf("1g") == 1 << 30
    assert _parse_bytes_conf("2t") == 2 << 40
    assert _parse_bytes_conf("garbage") == 128 * 1024 * 1024
    assert _parse_bytes_conf("", default=7) == 7


def test_parse_bytes_conf_falls_back_loudly(caplog):
    """Negative sizes fall back to the default like unparseable ones
    (a negative max-split would silently disable the spread guard), and
    every fallback logs a warning naming the bad string."""
    import logging

    from icebergproject_spark.tables import _parse_bytes_conf

    with caplog.at_level(logging.WARNING, logger="icebergproject_spark.tables"):
        assert _parse_bytes_conf("512k", default=7) == 512 * 1024
        assert not caplog.records
        assert _parse_bytes_conf("-1", default=7) == 7
        assert _parse_bytes_conf("-2m", default=7) == 7
        assert _parse_bytes_conf("abc", default=7) == 7
    assert [r.levelno for r in caplog.records] == [logging.WARNING] * 3
    assert "'-1'" in caplog.records[0].getMessage()
    assert "'abc'" in caplog.records[2].getMessage()
