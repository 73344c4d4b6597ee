"""Extended query registry — §2.6 gap-fill and advanced analytics.

The reference implements no sorts/limits/set-ops/window-functions
(SURVEY §2.6); these extensions complete the relational surface a user of
a general engine expects, each with a DuckDB oracle. Same determinism
rules as queries.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from icebergproject_spark.operators.temporal import asof_join, range_join, sessionize
from icebergproject_spark.queries import DEC, DEC4, Query, _t


# --- global top-k (ORDER BY + LIMIT) --------------------------------------

def q_top_events_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 events by value (total sort with limit pushdown —
    Spark's TakeOrderedAndProject, no full sort materialization)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type", "value")
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(10)
    )


ORACLE_TOP_EVENTS = """
SELECT event_id, user_id, event_type, value
FROM events ORDER BY value DESC, event_id ASC LIMIT 10
"""


# --- ROLLUP ----------------------------------------------------------------

def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(returnflag, linestatus): subtotals + grand total in one pass
    (Expand + single shuffle). NULL indicator columns coalesced to 'ALL'
    for an unambiguous compare."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        # DECIMAL aggregate, terminal double cast (driver-stable rendering)
        .agg(F.sum(price).cast(DEC).cast("double").alias("sum_base_price"),
             F.count(F.lit(1)).alias("n_items"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_base_price",
            "n_items",
        )
    )


ORACLE_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


# --- set operations --------------------------------------------------------

def q_purchasers_who_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: users with purchases who also hit errors."""
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errs = ev.filter(F.col("event_type") == "error").select("user_id")
    return buyers.intersect(errs)


ORACLE_INTERSECT = """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
"""


def q_viewers_never_buy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): (user, day) pairs that viewed but made no
    purchase that day — `subtract` = EXCEPT DISTINCT, one shuffle each side."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts").alias("d")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id", day)
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return viewers.subtract(buyers)


ORACLE_EXCEPT = """
SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'view'
EXCEPT
SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'purchase'
"""


# --- distinct & approx distinct -------------------------------------------

def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per event type (two-phase distinct agg)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_USERS = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (rows-only: estimator differs
    from DuckDB's). The 100 TB path — constant memory per group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


# --- window functions: lag/lead --------------------------------------------

def q_user_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG over (user, time): per-event delta vs previous event value.
    Deterministic ordering via (ts, event_id) composite."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - prev, 6).alias("value_delta"),
    )


ORACLE_VALUE_DELTAS = """
SELECT event_id, user_id,
       ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 6) AS value_delta
FROM events
"""


# --- pivot -----------------------------------------------------------------

PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_user_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts across the five event types (fixed
    value list — one shuffle, no second pass for value discovery)."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in PIVOT_TYPES],
    )


ORACLE_PIVOT = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click') AS n_click,
       COUNT(*) FILTER (event_type = 'view') AS n_view,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (event_type = 'signup') AS n_signup,
       COUNT(*) FILTER (event_type = 'error') AS n_error
FROM events GROUP BY user_id
"""


# --- as-of join ------------------------------------------------------------

def q_asof_trade_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: odd-key orders ('trades') pick up the latest even-key
    order ('quote') of the same customer at or before their date.
    Composition of union + partitioned window — see operators/temporal.py."""
    orders = _t(spark, sf_dir, "orders")
    trades = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("trade_dt_ts")
    )
    quotes = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_custkey"),
        F.col("o_orderdate").alias("quote_ts"),
        F.col("o_orderkey").alias("quote_key"),
        F.col("o_totalprice").alias("quote_price"),
    )
    joined = asof_join(
        trades,
        quotes,
        key="o_custkey",
        left_ts="trade_dt_ts",
        right_ts="quote_ts",
        right_vals=["quote_key", "quote_price"],
        tiebreak="quote_key",
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("trade_dt_ts", "yyyy-MM-dd").alias("trade_dt"),
        "quote_key",
        "quote_price",
    )


# oracle: standard SQL lateral (DuckDB) — greatest (ts, key) at or before
ORACLE_ASOF = """
SELECT t.o_orderkey, t.o_custkey,
       strftime(t.o_orderdate, '%Y-%m-%d') AS trade_dt,
       q.quote_key, q.quote_price
FROM (SELECT * FROM orders WHERE o_orderkey % 2 = 1) t
LEFT JOIN LATERAL (
  SELECT o_orderkey AS quote_key, o_totalprice AS quote_price
  FROM orders q
  WHERE q.o_custkey = t.o_custkey AND q.o_orderkey % 2 = 0
    AND q.o_orderdate <= t.o_orderdate
  ORDER BY q.o_orderdate DESC, q.o_orderkey DESC
  LIMIT 1
) q ON TRUE
"""


# --- sessionization --------------------------------------------------------

def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) + per-session rollup: the
    standard clickstream session table, two windows + one aggregate."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap="30 minutes")
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
    )


ORACLE_SESSIONS = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), sess AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM sess GROUP BY user_id, session_id
"""


# --- range (interval containment) join ------------------------------------

def q_range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi interval join: every ~997th order opens a 3-day 'campaign'
    window; count ALL lineitems shipped inside each window (no join key —
    the bucketized plan replaces the nested-loop cross product)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    campaigns = orders.filter(F.col("o_orderkey") % 997 == 0).select(
        F.col("o_orderkey").alias("campaign_id"),
        F.col("o_orderdate").alias("start_ts"),
        F.date_add(F.col("o_orderdate"), 3).cast("timestamp").alias("end_ts"),
    )
    points = li.select(F.col("l_shipdate"), F.col("l_quantity"))
    joined = range_join(points, campaigns, "l_shipdate", "start_ts", "end_ts")
    return joined.groupBy("campaign_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        # DECIMAL aggregate, terminal double cast (driver-stable rendering)
        F.sum(F.col("l_quantity").cast(DEC)).cast(DEC).cast("double").alias("sum_qty"),
    )


ORACLE_RANGE_JOIN = """
SELECT c.campaign_id,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
FROM (
  SELECT o_orderkey AS campaign_id,
         o_orderdate AS start_ts,
         CAST(o_orderdate + INTERVAL 3 DAY AS TIMESTAMP) AS end_ts
  FROM orders WHERE o_orderkey % 997 = 0
) c
JOIN lineitem l
  ON l.l_shipdate >= c.start_ts AND l.l_shipdate <= c.end_ts
GROUP BY c.campaign_id
"""


# --- CUBE -------------------------------------------------------------------

def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(event_type, day): all four grouping combinations in one pass
    (Expand + one shuffle), NULLs coalesced for a stable compare."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        ev.select(F.col("event_type"), day.alias("d"), "value")
        .cube("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("d", F.lit("ALL")).alias("d"),
            "n",
        )
    )


ORACLE_CUBE = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(strftime(ts, '%Y-%m-%d'), 'ALL') AS d,
       COUNT(*) AS n
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
"""


# --- end-to-end pipeline query --------------------------------------------

def q_browse_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion flow as ONE Catalyst plan: fact scan → product dim
    enrichment (broadcast) → supplier→nation hierarchy (broadcast) →
    day/brand/nation mart aggregate. What the reference runs as four
    separate Flink jobs with Kafka hops collapses into a single DAG —
    no intermediate materialization."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    wide = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left")
    )
    return (
        wide.groupBy(
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_dt"),
            F.col("p_brand").alias("brand"),
            F.col("n_name").alias("supplier_nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # DECIMAL aggregate, terminal double cast (driver-stable rendering)
            F.sum(price * (F.lit(1).cast(DEC) - disc)).cast(DEC4).cast("double").alias("revenue"),
        )
    )


ORACLE_PIPELINE_E2E = """
SELECT strftime(l.l_shipdate, '%Y-%m-%d') AS ship_dt,
       p.p_brand AS brand,
       n.n_name AS supplier_nation,
       COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DECIMAL(24,4)) AS DOUBLE) AS revenue
FROM lineitem l
LEFT JOIN part p ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
"""


# --- scalar-function suite (F2/F3/F5/F6/F7 roundtrips) ---------------------

def q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar library end-to-end against ground truth:
    F2/F3 epoch-millis formatting (incl. the 1970 null default on error
    events), F5 date-part split, F6 composite-key encode→decode, F7
    string-encoded-map encode→parse→extract. Every derived column must
    equal what the oracle computes directly from the source columns, so
    any parsing defect hash-mismatches."""
    from icebergproject_spark.functions import (
        composite_key,
        epoch_millis_to_date,
        epoch_millis_to_datetime,
        split_composite_key,
        str_to_map_expr,
    )

    ev = _t(spark, sf_dir, "events")
    millis = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.unix_millis("ts").cast("string")
    )
    f2 = epoch_millis_to_datetime(millis)
    encoded_map = F.concat(
        F.lit("{type="), F.col("event_type"), F.lit(", uid="), F.col("user_id"), F.lit("}")
    )
    return ev.select(
        "event_id",
        f2.alias("f2_datetime"),
        epoch_millis_to_date(millis).alias("f3_date"),
        F.split(f2, " ")[0].alias("f5_datepart"),
        composite_key("event_type", "user_id").alias("f6_key"),
        split_composite_key(composite_key("event_type", "user_id"), 3)[0].alias(
            "f6_first"
        ),
        str_to_map_expr(encoded_map)["uid"].alias("f7_uid"),
    )


ORACLE_SCALAR_SUITE = """
SELECT event_id,
       CASE WHEN event_type = 'error' THEN '1970-01-01 00:00:00'
            ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS f2_datetime,
       CASE WHEN event_type = 'error' THEN '1970-01-01'
            ELSE strftime(ts, '%Y-%m-%d') END AS f3_date,
       CASE WHEN event_type = 'error' THEN '1970-01-01'
            ELSE strftime(ts, '%Y-%m-%d') END AS f5_datepart,
       event_type || '$' || user_id AS f6_key,
       event_type AS f6_first,
       CAST(user_id AS VARCHAR) AS f7_uid
FROM events
"""


# --- skew-safe aggregation -------------------------------------------------

def q_user_points_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 flagship aggregate through the skew-safe two-phase path
    (operators/skew.salted_agg) — oracle-identical to the plain groupBy,
    proving the salt+merge decomposition is lossless."""
    from icebergproject_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("log_time"),
        "user_id",
        F.col("event_type").alias("product_name"),
        F.get_json_object("props", "$.k").cast("int").alias("obtain_points"),
    )
    out = salted_agg(
        pts,
        keys=["log_time", "user_id", "product_name"],
        aggs={"total_points": ("sum", "obtain_points")},
        salt_buckets=8,
    )
    return out.select(
        "log_time", "user_id", "product_name",
        F.col("total_points").cast("long").alias("total_points"),
    )


ORACLE_USER_POINTS_SALTED = """
SELECT strftime(ts, '%Y-%m-%d') AS log_time,
       user_id,
       event_type AS product_name,
       CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS total_points
FROM events
GROUP BY 1, 2, 3
"""


# --- embedding near-dup + IVF similarity ----------------------------------

def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (rounded score ≥ 0.35; the
    synthetic vectors are near-orthogonal, max pair ≈ 0.51, so 0.35 cuts
    the same-label tail). Verification tier — LSH variant is the scale
    path."""
    from icebergproject_spark.llm.dedup import embedding_near_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_pairs(emb, threshold=0.35)


ORACLE_DEDUP_EMBEDDING = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT id_a, id_b, score FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS score
  FROM v a JOIN v b ON a.vec_id < b.vec_id
) WHERE score >= 0.35
"""


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 neighbors for query vectors vec_id < 5
    (rows-only: the 10-iteration k-means training is iterative and
    engine-specific; recall vs exact top-k is pytest-checked).  The
    oracle-strength sibling is ``similarity_ivf_sql`` — one
    integer-exact Lloyd step, fully DuckDB-replayable."""
    from icebergproject_spark.llm.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4)


EXT_REGISTRY: dict[str, Query] = {
    "top_events_global": Query(q_top_events_global, ORACLE_TOP_EVENTS),
    "revenue_rollup": Query(q_revenue_rollup, ORACLE_ROLLUP),
    "purchasers_who_err": Query(q_purchasers_who_err, ORACLE_INTERSECT),
    "viewers_never_buy": Query(q_viewers_never_buy, ORACLE_EXCEPT),
    "distinct_users": Query(q_distinct_users, ORACLE_DISTINCT_USERS),
    "approx_distinct_users": Query(q_approx_distinct_users, None),
    "user_value_deltas": Query(q_user_value_deltas, ORACLE_VALUE_DELTAS),
    "user_type_pivot": Query(q_user_type_pivot, ORACLE_PIVOT),
    "asof_trade_quote": Query(q_asof_trade_quote, ORACLE_ASOF),
    "user_sessions": Query(q_user_sessions, ORACLE_SESSIONS),
    "browse_pipeline_e2e": Query(q_browse_pipeline_e2e, ORACLE_PIPELINE_E2E),
    "range_join_shipments": Query(q_range_join_shipments, ORACLE_RANGE_JOIN),
    "events_cube": Query(q_events_cube, ORACLE_CUBE),
    "scalar_suite": Query(q_scalar_suite, ORACLE_SCALAR_SUITE),
    "user_points_salted": Query(q_user_points_salted, ORACLE_USER_POINTS_SALTED),
    "dedup_embedding": Query(q_dedup_embedding, ORACLE_DEDUP_EMBEDDING),
    "similarity_ivf": Query(q_similarity_ivf, None),
}
