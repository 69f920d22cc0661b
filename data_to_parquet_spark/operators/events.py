"""Event-stream operators over the ``events`` table: tumbling windows,
gap-based sessionization, and the as-of join (SURVEY.md §2.2 extensions).

These are the batch forms; :mod:`..streaming.windows` exposes the Structured
Streaming variant of the tumbling aggregate (same semantics, same oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.exprs import dsum, money
from .asof import asof_join
from .base import Registry, load_table

EVT = Registry()

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_D = "double"


@EVT.register(
    "events_tumbling_5min",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_5min(spark, sf_dir):
    """Tumbling 5-minute window aggregate (batch form of the streaming op).

    Scale: map-side partial agg on (window, type); both engines align 5-min
    buckets to the epoch so bucket edges agree.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value", 6)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@EVT.register(
    "events_sessionize_30min",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             -- DuckDB windowed SUM(int) is HUGEINT (pandas float64); cast to
             -- BIGINT so the rendered value matches Spark's long
             CAST(SUM(new_session) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionize_30min(spark, sf_dir):
    """Gap-based sessionization: lag + cumulative-sum session ids.

    Scale: one shuffle on user_id; state is one window pass per user. The
    streaming equivalent is `session_window(ts, '30 minutes')`.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # microsecond-precision gap compare: the oracle's `ts - LAG(ts) <=
    # INTERVAL '30 minutes'` is exact to the micro; unix_timestamp truncates
    # to whole seconds and can flip gaps in (1800s, 1801s)
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            <= 30 * 60 * 1_000_000,
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
        F.date_format(F.max("ts"), _TS_FMT).alias("session_end"),
        F.sum(money("value", 6)).cast("double").alias("sum_value"),
    )


@EVT.register(
    "asof_events_latest_order",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           o_orderkey, o_totalprice
    FROM (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) t WHERE rn = 1
    """,
)
def asof_events_latest_order(spark, sf_dir):
    """As-of join: each event matched to the user's latest prior order.

    Uses the single-shuffle union-merge implementation in
    :func:`..operators.asof.asof_join` (left-outer point-in-time semantics,
    ties broken by greatest o_orderkey).
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    joined = asof_join(
        e,
        o.select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("event_ts"),
        "o_orderkey",
        "o_totalprice",
    )


@EVT.register(
    "json_functions_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_value,
           CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
)
def json_functions_events(spark, sf_dir):
    """Semi-structured JSON column extraction (the props payload pattern).

    Scale: get_json_object is a JVM scalar (codegen'd) — no Python; for
    repeated multi-field access, from_json to a struct column once.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id",
        k.alias("k_value"),
        F.when(k >= 50, F.lit("high")).otherwise(F.lit("low")).alias("k_band"),
    )


def _percent_rank_group(pdf):
    n = len(pdf)
    ranks = pdf["value"].rank(method="min")
    pdf = pdf.assign(
        value_pct=(ranks - 1) / (n - 1) if n > 1 else ranks * 0.0
    )
    return pdf[["event_id", "event_type", "value", "value_pct"]]


@EVT.register(
    "grouped_map_percent_rank",
    oracle="""
    SELECT event_id, event_type, value,
           percent_rank() OVER (PARTITION BY event_type ORDER BY value)
             AS value_pct
    FROM events
    """,
)
def grouped_map_percent_rank(spark, sf_dir):
    """Grouped-map Pandas UDF (applyInPandas): per-event-type rank
    normalization, computed in pandas per group.

    The same result is expressible as a percent_rank window (the oracle) —
    the point is the operator shape: whole-group pandas in / pandas out, the
    substrate for group-local ML transforms (normalization, outlier scores,
    per-group model scoring) that window functions can't express.

    Scale: one shuffle on the grouping key; each group must fit one
    executor's memory — use high-cardinality keys or pre-bucket big groups.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(
            _percent_rank_group,
            "event_id long, event_type string, value double, value_pct double",
        )
    )


@EVT.register(
    "map_json_props",
    oracle="""
    SELECT event_id,
           array_to_string(list_transform(list_sort(json_keys(props)),
             k -> k || '=' ||
                  CAST(CAST(json_extract(props, '$.' || k) AS INTEGER)
                       AS VARCHAR)), ',') AS props_kv
    FROM events
    """,
)
def map_json_props(spark, sf_dir):
    """MapType surface: parse the JSON props into map<string,int>, expose
    the entries as a canonically-ordered key=value string (from_json /
    map_entries / array_sort — array output cells crash the driver's
    pandas row-sort, so the map is rendered to one scalar column)."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    entries = F.array_sort(F.map_entries(m))
    return e.select(
        "event_id",
        F.array_join(
            F.transform(
                entries,
                lambda kv: F.concat_ws(
                    "=", kv["key"], kv["value"].cast("string")
                ),
            ),
            ",",
        ).alias("props_kv"),
    )


@EVT.register(
    "udaf_geometric_mean",
    # the positivity guard sits INSIDE ln as a CASE, not as an aggregate
    # FILTER: DuckDB evaluates the aggregate's argument vector before
    # applying the filter mask, so ln(0) on an excluded row still raises
    # Out of Range (first seen at sf0.1, where events carries a zero
    # value; sf<=0.01 has none). CASE short-circuits per row and yields
    # NULL, which avg skips — exactly the Spark side's F.when(...) arm.
    oracle="""
    SELECT event_type,
           round(exp(avg(ln(CASE WHEN value > 0 THEN value END))), 6)
             AS geo_mean_udaf,
           round(exp(avg(ln(CASE WHEN value > 0 THEN value END))), 6)
             AS geo_mean_algebraic,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def udaf_geometric_mean(spark, sf_dir):
    """Custom UDAF via a grouped-agg Pandas UDF: per-event-type geometric
    mean of `value` (the aggregate Spark doesn't ship natively).

    Scale: grouped-agg pandas UDFs get map-side Arrow batching; for algebraic
    aggregates like this, the decomposable form (avg of logs JVM-side, exp
    after) is the 100 TB path — shown alongside to keep the UDAF honest.
    Both legs round to 6 decimals so libm/summation-order skew in the last
    ulps cannot flip the value oracle.
    """
    import numpy as np

    def _gmean(v: pd.Series) -> float:
        arr = v.to_numpy()
        pos = arr[arr > 0]
        # no positive values -> NULL, matching the algebraic leg's
        # avg-over-all-NULL (np.log([]).mean() would yield NaN + a
        # RuntimeWarning and desync the two legs; the shipped corpus
        # never produces such a group, a regenerated one can)
        if len(pos) == 0:
            return None
        return float(np.exp(np.log(pos).mean()))

    gmean = F.pandas_udf(_gmean, "double")

    e = load_table(spark, sf_dir, "events")
    # grouped-agg pandas UDFs can't be placed alongside built-in aggregates
    # on a default session — run the two aggregations separately and join
    udaf_leg = e.groupBy("event_type").agg(
        F.round(gmean("value"), 6).alias("geo_mean_udaf")
    )
    algebraic_leg = e.groupBy("event_type").agg(
        F.round(
            F.exp(F.avg(F.log(F.when(F.col("value") > 0, F.col("value"))))),
            6,
        ).alias("geo_mean_algebraic"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return udaf_leg.join(algebraic_leg, "event_type")


@EVT.register(
    "time_grid_fill",
    oracle="""
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
      FROM bounds
    ),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    )
    SELECT strftime(g.hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
           coalesce(h.n_events, 0) AS n_events,
           coalesce(h.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN hourly h USING (hour_start)
    """,
)
def time_grid_fill(spark, sf_dir):
    """Time-series gap filling: build the complete hourly grid between min
    and max event time (F.sequence) and left-join the hourly aggregate, so
    empty hours materialize as zero rows.

    Scale: the grid is hours-between-bounds (tiny, broadcast); the aggregate
    is one map-side-combinable groupBy.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value", 6)).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "n_events", "sum_value")
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    return (
        grid.join(hourly, "hour_start", "left")
        .select(
            F.date_format("hour_start", _TS_FMT).alias("hour_start"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


@EVT.register(
    "variant_json_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           json_extract_string(props, '$.k') AS k_raw,
           CAST(json_valid(props) AS BOOLEAN) AS is_valid
    FROM events
    """,
)
def variant_json_events(spark, sf_dir):
    """Semi-structured access through Spark 4's VARIANT type: ``parse_json``
    once, then typed ``variant_get`` extractions — the open-schema column
    pattern (vs ``json_functions_events``, which re-parses per extraction
    with get_json_object).

    Scale: VARIANT stores a parsed binary representation, so N field
    accesses cost one parse (plus shreddable storage in Parquet as the
    format matures); with string JSON every get_json_object call re-parses
    the payload.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_value"),
        F.variant_get(v, "$.k", "string").alias("k_raw"),
        F.try_parse_json("props").isNotNull().alias("is_valid"),
    )


@EVT.register(
    "window_value_functions",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, value,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER w AS last_val,
           nth_value(value, 2) OVER w AS second_val,
           CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS INTEGER) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_functions(spark, sf_dir):
    """Value-window function family: first/last/nth value over a full-frame
    window plus ntile bucketing — the remaining analytic functions not
    covered by the rank/lag families.

    Scale: one shuffle on user_id serves all four functions (same window
    spec); the full frame is explicit (default frames differ between
    engines for last_value).
    """
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "value",
        F.first("value").over(wf).alias("first_val"),
        F.last("value").over(wf).alias("last_val"),
        F.nth_value("value", 2).over(wf).alias("second_val"),
        F.ntile(4).over(wo).alias("quartile"),
    )


@EVT.register(
    "events_sliding_10min",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts)
                    - o * INTERVAL '5 minutes',
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN (VALUES (0), (1)) AS offs(o)
    GROUP BY 1, 2
    """,
)
def events_sliding_10min(spark, sf_dir):
    """Sliding (hopping) window aggregate: 10-minute windows every 5
    minutes — each event contributes to exactly size/hop = 2 windows.

    Spark's ``F.window(ts, size, hop)`` expands each row into its member
    windows before the aggregate (the oracle mirrors that with a 2-row
    cross join on the hop offset); both engines align hops to the epoch so
    the window edges agree. Scale: the fan-out factor is size/hop (a
    constant), then the same map-side partial aggregation as tumbling —
    state is |active windows| × |types|, not |events|.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value", 6)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_HIST_STEP = 25  # bucket width over value in [0, 500)
_HIST_BUCKETS = 20


@EVT.register(
    "value_histogram_events",
    oracle=f"""
    SELECT CAST(CASE WHEN value < 0 THEN -1
                     WHEN value >= {_HIST_STEP * _HIST_BUCKETS} THEN {_HIST_BUCKETS}
                     ELSE CAST(floor(value / {_HIST_STEP}) AS INT) END AS INT) AS bucket,
           CAST(CASE WHEN value < 0 THEN -1
                     WHEN value >= {_HIST_STEP * _HIST_BUCKETS} THEN {_HIST_BUCKETS}
                     ELSE CAST(floor(value / {_HIST_STEP}) AS INT) END
                * {_HIST_STEP} AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def value_histogram_events(spark, sf_dir):
    """Fixed-width histogram of the event value distribution with
    under/overflow buckets — the one-pass profiling aggregate you run
    before choosing quality-filter thresholds on a new corpus.

    Scale: a single map-side-combined aggregate keyed by ≤ 22 buckets; the
    shuffle carries one row per (partition, bucket). Fixed bucket edges
    (rather than quantile-derived ones) keep it one pass and
    deterministic; `percentile_prices_by_flag` covers the exact-quantile
    alternative.
    """
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 0, F.lit(-1))
        .when(
            F.col("value") >= _HIST_STEP * _HIST_BUCKETS,
            F.lit(_HIST_BUCKETS),
        )
        .otherwise(F.floor(F.col("value") / _HIST_STEP).cast("int"))
        .cast("int")
    )
    return (
        e.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "bucket",
            (F.col("bucket") * _HIST_STEP).cast("double").alias("bucket_lo"),
            "n",
            "min_value",
            "max_value",
        )
    )


@EVT.register(
    "events_rollup_day_hour",
    oracle="""
    SELECT CASE WHEN GROUPING(day) = 0
                THEN strftime(day, '%Y-%m-%d') END AS day,
           CASE WHEN GROUPING(hr) = 0
                THEN strftime(hr, '%Y-%m-%d %H:%M:%S') END AS hour_start,
           CAST(GROUPING(day) * 2 + GROUPING(hr) AS INT) AS lvl,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM (SELECT date_trunc('day', ts) AS day,
                 date_trunc('hour', ts) AS hr, value
          FROM events)
    GROUP BY ROLLUP(day, hr)
    """,
)
def events_rollup_day_hour(spark, sf_dir):
    """Hypertable-style multi-granularity time rollup: one pass computes the
    hourly, daily, and grand-total aggregates via ROLLUP(day, hour).

    Scale: map-side partial aggregation feeds all three grains; the shuffle
    key cardinality is |hours| (the finest grain), so state is bounded by
    the time span, not the event count. On a cluster this replaces three
    separate scans of a 100 TB events table with one.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.date_trunc("day", "ts").alias("day"),
            F.date_trunc("hour", "ts").alias("hr"),
            "value",
        )
        .rollup("day", "hr")
        .agg(
            (F.grouping("day") * 2 + F.grouping("hr"))
            .cast("int")
            .alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value", 6)).cast("double").alias("sum_value"),
        )
        .select(
            # grouping()/grouping_id() are only legal inside the rollup
            # aggregate, so the null-out gating rides the lvl column the
            # agg already computed (lvl = grouping(day)*2 + grouping(hr))
            F.when(F.col("lvl") < 2, F.date_format("day", "yyyy-MM-dd"))
            .alias("day"),
            F.when(F.col("lvl") == 0, F.date_format("hr", _TS_FMT))
            .alias("hour_start"),
            "lvl",
            "n_events",
            "sum_value",
        )
    )


@EVT.register(
    "winsorize_values_by_type",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           CASE WHEN value < lo THEN lo
                WHEN value > hi THEN hi
                ELSE value END AS value_winsorized
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    """,
)
def winsorize_values_by_type(spark, sf_dir):
    """Per-group winsorization: clamp each event's value into its type's
    [p05, p95] band — the standard outlier treatment before a numeric
    column feeds model features or monitoring baselines.

    Scale: one exact-percentile aggregate per type (map-side combinable
    sort-based percentile over a LOW-cardinality key) produces a tiny
    bounds table that AQE broadcasts back onto the stream — the fact table
    shuffles zero times. Spark `percentile` ≡ DuckDB `quantile_cont`
    (bit-identical interpolation, proven by `percentile_prices_by_flag`).
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.groupBy(F.col("event_type").alias("bt")).agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    return (
        e.join(bounds, e.event_type == bounds.bt)
        .select(
            "event_id",
            "event_type",
            "value",
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value"))
            .alias("value_winsorized"),
        )
    )


@EVT.register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           strftime(v.t_view, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(c.t_click, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.t_purchase, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS steps_reached
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase): per user, the
    first view, the first click AT OR AFTER that view, and the first
    purchase at or after that click — the sequence-constrained funnel every
    product-analytics stack computes (an unordered GROUP BY would count a
    purchase that preceded the view).

    Scale: where the SQL oracle needs three self-joins, the Spark plan is
    one hash partitioning on user_id reused end to end — two stacked
    window minimums (each step's threshold) and a final aggregate, with NO
    additional exchange between them (Spark reuses the child's hash
    partitioning for same-key windows and groupBys). One shuffle of the
    events table, total, regardless of funnel depth.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    tv = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    stage1 = e.withColumn("t_view", tv)
    tc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    stage2 = stage1.withColumn("t_click", tc)
    agg = (
        stage2.groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
        .filter(F.col("t_view").isNotNull())
    )
    return agg.select(
        "user_id",
        F.date_format("t_view", _TS_FMT).alias("view_ts"),
        F.date_format("t_click", _TS_FMT).alias("click_ts"),
        F.date_format("t_purchase", _TS_FMT).alias("purchase_ts"),
        F.when(F.col("t_purchase").isNotNull(), F.lit(3))
        .when(F.col("t_click").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
        .alias("steps_reached"),
    )


@EVT.register(
    "cohort_retention_weekly",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(date_diff('day', f.cohort,
                            date_trunc('week', e.ts)) / 7 AS INT)
               AS week_offset
      FROM events e JOIN first f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
           week_offset,
           COUNT(*) AS n_users
    FROM activity GROUP BY cohort, week_offset
    """,
)
def cohort_retention_weekly(spark, sf_dir):
    """Weekly cohort retention — the canonical product-analytics matrix:
    users grouped by the week of their first event (the cohort), counted
    once per later week in which they were active (the offset). Every
    retention dashboard is a pivot of this output.

    Scale: the first-event table and the activity join both key on
    user_id, so one hash partitioning serves the aggregate AND the join
    probe side; the per-(user, cohort, offset) distinct then re-keys to
    the matrix cells, whose cardinality is |cohorts| × |offsets| — tiny.
    Week arithmetic stays on JVM date functions (both engines truncate to
    ISO Monday).
    """
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_users",
    )


@EVT.register(
    "hourly_anomaly_zscores",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), stats AS (
      SELECT event_type,
             CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n,
             COUNT(*) AS n_hours,
             CAST(SUM(n * n) AS DOUBLE) AS sum_sq,
             CAST(SUM(n) AS DOUBLE) AS sum_n
      FROM hourly GROUP BY event_type
    )
    -- greatest(,0) absorbs the -epsilon double rounding can produce at
    -- zero variance (DuckDB's sqrt(negative) raises); the var > 0 CASE
    -- guard makes a constant-volume type emit no rows (nothing deviates)
    -- instead of dividing by zero
    , vartab AS (
      SELECT event_type, mean_n, n_hours,
             greatest(sum_sq - sum_n * sum_n / n_hours, 0.0)
               / (n_hours - 1) AS var
      FROM stats WHERE n_hours > 1
    )
    SELECT h.event_type,
           strftime(h.h, '%Y-%m-%d %H:%M:%S') AS hour,
           h.n,
           round((h.n - s.mean_n) / sqrt(var), 9) AS zscore
    FROM hourly h JOIN vartab s ON h.event_type = s.event_type
    WHERE s.var > 0
      AND abs((h.n - s.mean_n) / sqrt(var)) >= 2.0
    """,
)
def hourly_anomaly_zscores(spark, sf_dir):
    """Volume anomaly detection: per event type, hours whose event count
    sits ≥ 2 sample standard deviations from that type's hourly mean — the
    monitoring query behind every traffic-spike/drop alert.

    Determinism across engines: counts are integers, so Σn and Σn² are
    EXACT in both engines; mean/variance/z are then single double-precision
    expressions over exact inputs (no order-dependent float accumulation),
    rounded to 9 decimals for the value hash — the same recipe the repo's
    other float oracles use. Scale: one hourly aggregate (map-side
    combined), one tiny per-type stats table joined back broadcast; the
    fact table is scanned once.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        (F.sum("n").cast(_D) / F.count(F.lit(1))).alias("mean_n"),
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("n") * F.col("n")).cast(_D).alias("sum_sq"),
        F.sum("n").cast(_D).alias("sum_n"),
    )
    # degenerate guards (mirrored in the oracle): n_hours > 1 is applied
    # BEFORE the variance division, greatest(,0) absorbs -epsilon
    # rounding at zero variance, and var > 0 keeps a constant-volume
    # type from dividing by zero (Spark ANSI raises DIVIDE_BY_ZERO even
    # for doubles) — it emits no rows, since nothing deviates
    var = F.when(
        F.col("n_hours") > 1,
        F.greatest(
            F.col("sum_sq")
            - F.col("sum_n") * F.col("sum_n") / F.col("n_hours"),
            F.lit(0.0),
        )
        / (F.col("n_hours") - 1),
    )
    z = F.when(var > 0, (F.col("n") - F.col("mean_n")) / F.sqrt(var))
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("n_hours") > 1) & (F.abs(z) >= 2.0))
        .select(
            "event_type",
            F.date_format("h", _TS_FMT).alias("hour"),
            "n",
            F.round(z, 9).alias("zscore"),
        )
    )


@EVT.register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type),
                 9) AS prob
    FROM t
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences:
    for every (prev_type -> next_type) pair, the transition count and the
    conditional probability P(next | prev) — the building block behind
    clickstream path analysis and next-event prediction features.

    Determinism: the per-user ordering ties on ts are broken by event_id,
    so both engines see identical lag pairs; counts are exact integers and
    prob is a single double division rounded to 9 — the repo's standard
    float-oracle recipe. Scale: ONE shuffle on user_id feeds the lag
    window (users are independent — no skew beyond per-user fan-in), the
    pair aggregate is map-side combined into a |types|^2-bounded result,
    and the probability window runs over that tiny aggregate, not the
    fact table.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast(_D) / F.sum("n").over(wp), 9).alias("prob"),
    )


@EVT.register(
    "mad_outlier_events",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, m.med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(m.med, 9) AS med,
           round(m.mad, 9) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad m ON e.event_type = m.event_type
    GROUP BY e.event_type, m.med, m.mad
    """,
)
def mad_outlier_events(spark, sf_dir):
    """Robust outlier detection by median absolute deviation: per event
    type, the median, the MAD (median of |x − median|), and how many
    events sit more than 3 MADs out — the robust alternative to the
    z-score sweep in ``hourly_anomaly_zscores`` (medians don't move when
    the outliers themselves get extreme; std-dev does).

    Determinism: exact interpolated medians (Spark ``median`` ≡ DuckDB
    ``median``/``quantile_cont``, bit-identical on doubles — the
    ``percentile_prices_by_flag`` precedent), |x−med| and the 3·MAD
    comparison are identical double expressions per row, counts are ints;
    med/mad rounded 9 for display only. Scale: three passes over the fact
    table (median → MAD → flag count), each a map-side-combinable
    aggregate over |event types| groups, with the tiny per-type stats
    broadcast back each round — exact medians genuinely need the extra
    passes; at interactive 100 TB you'd swap in percentile_approx
    (``approx_aggregates``) and keep this as the audited-correctness
    variant.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("med", 9).alias("med"),
            F.round("mad", 9).alias("mad"),
            "n_outliers",
        )
    )


@EVT.register(
    "clamped_running_balance",
    oracle="""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT)
                  WHEN event_type = 'error'
                    THEN -CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END AS delta
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list(delta ORDER BY ts, event_id)),
             (acc, x) -> greatest(acc + x, CAST(0 AS BIGINT))
           ) AS final_balance_cents
    FROM deltas GROUP BY user_id
    """,
)
def clamped_running_balance(spark, sf_dir):
    """Floor-clamped running balance per user — purchases credit, errors
    debit, and the balance can never go below zero. Each step depends on
    the PREVIOUS clamped value, so a plain running sum is wrong — but the
    recurrence has a closed form, the prefix-sum identity
    final = C_N − min(0, min_t C_t) (C = running sum of deltas; the same
    identity ``cusum_changepoint_daily`` windows in SQL), so the whole
    operator runs JVM-side: one window pass + one aggregate, NO Python.
    The generic ``ops.clamped_fold`` keeps the ``applyInPandas`` form for
    recurrences without a closed form; this registered query is the
    all-codegen fast path (3× faster at sf0.1: one pandas group per user
    made per-group overhead, not arithmetic, the cost).

    Determinism: deltas are exact integer cents, the window order is
    pinned by (ts, event_id), and integer min/sum are order-robust;
    DuckDB mirrors the step-by-step recurrence with ``list_reduce`` — the
    two engines computing DIFFERENT formulations of the same fold and
    hash-matching is the strongest shape of this oracle. Scale: ONE
    shuffle on user_id feeding a window + map-side-combined aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .when(
            F.col("event_type") == "error",
            -F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("delta"),
    )
    wcum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        deltas.select(
            "user_id",
            "delta",
            F.sum("delta").over(wcum).alias("cum"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum("delta")  # C_N
                - F.least(F.lit(0).cast("long"), F.min("cum"))
            ).alias("final_balance_cents"),
        )
    )


@EVT.register(
    "session_dwell_bounce",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ), stats AS (
      SELECT user_id, session_id,
             COUNT(*) AS n_events,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
               AS duration_s,
             hour(MIN(ts)) AS start_hour
      FROM sess GROUP BY user_id, session_id
    )
    SELECT CAST(start_hour AS INT) AS start_hour,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 9) AS bounce_rate,
           round(CAST(SUM(duration_s) AS DOUBLE) / COUNT(*), 9)
             AS avg_duration_s,
           round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 9)
             AS avg_events
    FROM stats GROUP BY start_hour
    """,
)
def session_dwell_bounce(spark, sf_dir):
    """Session dwell-time and bounce-rate report by hour of session start:
    sessionize (30-minute gap rule, the `events_sessionize_30min` CTE),
    then roll sessions up into the engagement report every product
    dashboard shows — sessions, bounce rate (single-event sessions), mean
    dwell seconds, mean events per session.

    Determinism: durations are integer seconds via the round-5 convention
    ``(unix_micros(max) − unix_micros(min)) div 1_000_000`` (floor of the
    difference — not a difference of per-value floors, which drifts ±1 on
    sub-second timestamps); all ratios are single divisions over exact
    ints, rounded 9. Scale: one shuffle on user_id drives both window
    passes (same partitioning — one exchange), the per-session aggregate
    shuffles on (user, session), and the final 24-row report is map-side
    combined.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            <= 30 * 60 * 1_000_000,
            0,
        )
        .otherwise(1)
        .alias("new_session"),
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("new_session").over(wrun).alias("session_id")
    )
    stats = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("duration_s"),
        F.hour(F.min("ts")).alias("start_hour"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return stats.groupBy("start_hour").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(bounce).alias("n_bounces"),
        F.round(F.sum(bounce).cast(_D) / F.count(F.lit(1)), 9).alias(
            "bounce_rate"
        ),
        F.round(
            F.sum("duration_s").cast(_D) / F.count(F.lit(1)), 9
        ).alias("avg_duration_s"),
        F.round(
            F.sum("n_events").cast(_D) / F.count(F.lit(1)), 9
        ).alias("avg_events"),
    )


_SALT_BUCKETS = 32


@EVT.register(
    "skew_salted_agg_events",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 9) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def skew_salted_agg_events(spark, sf_dir):
    """Salted two-phase aggregation over a low-cardinality, skew-prone key.

    The semantics are a plain ``GROUP BY event_type`` (the oracle IS that
    query) — the operator exists for its physical shape. With only a
    handful of event types, a direct groupBy at 100 TB lands each type's
    entire volume on ONE reducer (|types| tasks do all the work; one hot
    type = one straggler). Salting splits phase 1 into
    (event_type, salt) groups — {32}× more, uniformly spread because the
    salt is a hash of the row's unique id — so every core combines
    map-side; phase 2 then merges the {32} bounded partials per type.

    Everything merged is algebraic: counts and DECIMAL(18,6) sums are
    associative and exact, so the two-phase result is bit-identical to the
    one-phase result in any partitioning. The salt is a hash of USER_ID,
    not the row id, on purpose: every user's events land in exactly one
    (type, salt) bucket, so the distinct-user count decomposes exactly —
    phase 1 collapses to (type, salt, user), phase 2 counts users per salt
    bucket, phase 3 sums those disjoint counts. The avg divides once at
    the end. AQE alone can split skewed SHUFFLE partitions, but only
    salting parallelizes a skewed AGGREGATION key's final combine.
    """
    e = load_table(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64(F.col("user_id")), F.lit(_SALT_BUCKETS))
    # phase 1: exact per-(type, salt, user) pre-agg — the salt is a pure
    # function of user_id, so users never straddle salt buckets and the
    # distinct count stays salt-decomposable.
    p1 = (
        e.select(
            "event_type",
            salt.alias("salt"),
            "user_id",
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("event_type", "salt", "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    # phase 2: collapse users within each salt bucket (32 partials/type).
    p2 = p1.groupBy("event_type", "salt").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.count(F.lit(1)).alias("u"),
    )
    # phase 3: |types| x |salts| rows — trivial exact final merge.
    merged = p2.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("s").alias("s"),
        F.sum("u").alias("n_users"),
    )
    return merged.select(
        "event_type",
        "n_events",
        "n_users",
        F.col("s").cast("double").alias("sum_value"),
        F.round(F.col("s").cast("double") / F.col("n_events"), 9).alias(
            "avg_value"
        ),
    )


@EVT.register(
    "kaplan_meier_view_to_purchase",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             MAX(ts) AS tlast
      FROM events GROUP BY user_id
    ), subjects AS (
      SELECT user_id,
             CASE WHEN tp IS NOT NULL AND tp >= t0 THEN 1 ELSE 0 END
               AS event_flag,
             CASE WHEN tp IS NOT NULL AND tp >= t0
                  THEN (epoch_us(tp) - epoch_us(t0)) // 86400000000
                  ELSE (epoch_us(tlast) - epoch_us(t0)) // 86400000000
             END AS dur
      FROM per_user WHERE t0 IS NOT NULL
    ), counts AS (
      SELECT dur,
             SUM(event_flag) AS d,
             SUM(1 - event_flag) AS c
      FROM subjects GROUP BY dur
    ), risk AS (
      SELECT dur, d, c,
             (SELECT COUNT(*) FROM subjects)
               - COALESCE(SUM(d + c) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_at_risk
      FROM counts
    )
    SELECT CAST(dur AS BIGINT) AS duration_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(c AS BIGINT) AS c_censored,
           CASE WHEN MAX(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END) OVER (
                  ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(SUM(CASE WHEN d >= n_at_risk THEN 0.0
                       ELSE ln(1.0 - CAST(d AS DOUBLE) / n_at_risk) END) OVER (
                  ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW)), 6)
           END AS survival
    FROM risk
    """,
)
def kaplan_meier_view_to_purchase(spark, sf_dir):
    """Kaplan-Meier survival curve for time-to-conversion: per user, the
    days from first `view` to first subsequent `purchase`; users who never
    purchase are right-CENSORED at their last observed event — the
    estimator product-limit handles them correctly where a naive average
    of converted users only would be biased. The standard funnel-latency /
    churn analysis over event streams.

    Determinism: durations are exact integer day floors (micros
    arithmetic, the round-5 precision convention); at-risk counts are
    window sums of integers; each hazard factor ln(1 − d/n) is one
    closed-form double over integers, and the cumulative product runs as
    a RUNNING ln-sum over the duration-ordered series — both engines
    accumulate a running window frame sequentially in frame order, so
    the float sum is order-identical, then one exp and round(6).

    Scale: one shuffle keyed on user_id (the conditional-min aggregate),
    one map-side-combined aggregate to |distinct durations| rows, and
    windows over that tiny series; the 1-row total-subject count is a
    broadcast scalar.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        F.max("ts").alias("tlast"),
    )
    has_event = F.col("tp").isNotNull() & (F.col("tp") >= F.col("t0"))
    subjects = per_user.filter(F.col("t0").isNotNull()).select(
        has_event.cast("long").alias("event_flag"),
        F.when(
            has_event,
            F.floor(
                (F.unix_micros("tp") - F.unix_micros("t0")) / 86_400_000_000
            ),
        )
        .otherwise(
            F.floor(
                (F.unix_micros("tlast") - F.unix_micros("t0"))
                / 86_400_000_000
            )
        )
        .alias("dur"),
    )
    counts = subjects.groupBy("dur").agg(
        F.sum("event_flag").alias("d"),
        F.sum(F.lit(1) - F.col("event_flag")).alias("c"),
    )
    total = subjects.count()
    wprev = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    wrun = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    risk = counts.withColumn(
        "n_at_risk",
        F.lit(total)
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)),
    )
    # d == n_at_risk (every remaining subject converts in this bucket)
    # makes the hazard factor ln(0): DuckDB raises, Spark returns NULL
    # which a window SUM silently skips — a data-dependent crash on one
    # engine and a wrong plateau on the other. Handle it explicitly on
    # both sides: once any bucket exhausts the risk set, survival IS 0.
    lnf = F.when(
        F.col("d") >= F.col("n_at_risk"), F.lit(0.0)
    ).otherwise(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk"))
    )
    hit_zero = (
        F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(wrun) == 1
    )
    return risk.select(
        F.col("dur").alias("duration_days"),
        "n_at_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.when(hit_zero, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(lnf).over(wrun)), 6))
        .alias("survival"),
    )


@EVT.register(
    "ab_conversion_ztest",
    oracle="""
    WITH arms AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT
        SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
        SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS x_a,
        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
        SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS x_b
      FROM arms
    )
    -- degenerate guards: an empty arm makes the rate NULL (not a
    -- division crash), and a pooled rate of exactly 0 or 1 (nobody or
    -- everybody converts) zeroes the pooled variance, so z is NULL
    -- rather than x/0 (Spark ANSI raises DIVIDE_BY_ZERO even for
    -- doubles; DuckDB quietly NULLs — the guard makes both NULL)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
           CASE WHEN n_a > 0
                THEN round(CAST(x_a AS DOUBLE) / n_a, 9) END AS p_a,
           CASE WHEN n_b > 0
                THEN round(CAST(x_b AS DOUBLE) / n_b, 9) END AS p_b,
           CASE WHEN n_a > 0 AND n_b > 0
                 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
             round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                   / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b)), 6)
           END AS z_score
    FROM agg
    """,
)
def ab_conversion_ztest(spark, sf_dir):
    """Two-proportion z-test for an A/B experiment readout: users split
    into arms by a deterministic hash rule (user_id parity standing in
    for the assignment hash), conversion = ever purchased; reports both
    rates and the pooled-variance z statistic — the standard
    experimentation-platform significance readout.

    Determinism: every input to the statistic is an exact integer
    (per-arm user and converter counts commute across partitions); the
    z-score is one closed-form double expression over four integers,
    rounded to 6. Scale: one user-keyed aggregate then a single 4-cell
    map-side-combined rollup — the statistic never sees row-level data.
    """
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long")) >= 14
        )
        .cast("long")
        .alias("converted")
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    agg = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("x_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pa - pb) / F.sqrt(
        pp * (1.0 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    # degenerate guards (mirrored in the oracle): empty arm -> NULL rate;
    # pooled rate exactly 0 or 1 -> zero pooled variance -> NULL z. The
    # F.when keeps the divisions unevaluated (Spark ANSI raises
    # DIVIDE_BY_ZERO even for doubles)
    x_tot = F.col("x_a") + F.col("x_b")
    n_tot = F.col("n_a") + F.col("n_b")
    return agg.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.when(F.col("n_a") > 0, F.round(pa, 9)).alias("p_a"),
        F.when(F.col("n_b") > 0, F.round(pb, 9)).alias("p_b"),
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (x_tot > 0)
            & (x_tot < n_tot),
            F.round(z, 6),
        ).alias("z_score"),
    )


@EVT.register(
    "logrank_test_by_arm",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             MAX(ts) AS tlast
      FROM events GROUP BY user_id
    ), subjects AS (
      SELECT arm,
             CASE WHEN tp IS NOT NULL AND tp >= t0 THEN 1 ELSE 0 END
               AS event_flag,
             CASE WHEN tp IS NOT NULL AND tp >= t0
                  THEN (epoch_us(tp) - epoch_us(t0)) // 86400000000
                  ELSE (epoch_us(tlast) - epoch_us(t0)) // 86400000000
             END AS dur
      FROM per_user WHERE t0 IS NOT NULL
    ), counts AS (
      SELECT dur,
             SUM(CASE WHEN arm = 0 THEN event_flag ELSE 0 END) AS d1,
             SUM(CASE WHEN arm = 0 THEN 1 - event_flag ELSE 0 END) AS c1,
             SUM(CASE WHEN arm = 1 THEN event_flag ELSE 0 END) AS d2,
             SUM(CASE WHEN arm = 1 THEN 1 - event_flag ELSE 0 END) AS c2
      FROM subjects GROUP BY dur
    ), risk AS (
      SELECT dur, d1, d2,
             (SELECT COUNT(*) FROM subjects WHERE arm = 0)
               - COALESCE(SUM(d1 + c1) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n1,
             (SELECT COUNT(*) FROM subjects WHERE arm = 1)
               - COALESCE(SUM(d2 + c2) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n2
      FROM counts
    ), terms AS (
      SELECT d1,
             CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2) AS e1,
             CAST(d1 AS DOUBLE)
               - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2) AS o_minus_e,
             CASE WHEN n1 + n2 > 1 THEN
               CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)
                 * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n2))
                 * (n1 + n2 - d1 - d2) / (n1 + n2 - 1)
             ELSE 0.0 END AS var_t
      FROM risk WHERE d1 + d2 > 0
    )
    -- zero total variance (e.g. a lone subject, or every event day
    -- exhausting its risk set) -> NULL z, not a division by zero
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_days,
           CAST(SUM(d1) AS BIGINT) AS observed_arm0,
           round(CAST(SUM(CAST(e1 AS DECIMAL(18,9))) AS DOUBLE), 6)
             AS expected_arm0,
           round(CAST(SUM(CAST(var_t AS DECIMAL(18,9))) AS DOUBLE), 6)
             AS variance,
           CASE WHEN CAST(SUM(CAST(var_t AS DECIMAL(18,9))) AS DOUBLE) > 0
                THEN round(
                  CAST(SUM(CAST(o_minus_e AS DECIMAL(18,9))) AS DOUBLE)
                  / sqrt(CAST(SUM(CAST(var_t AS DECIMAL(18,9)))
                              AS DOUBLE)), 6)
           END AS z_score
    FROM terms
    """,
)
def logrank_test_by_arm(spark, sf_dir):
    """Log-rank test between experiment arms for the view→purchase
    survival curves of `kaplan_meier_view_to_purchase`: at every event
    day, compare arm 0's observed conversions with the count expected
    under a shared hazard, accumulate the hypergeometric variance, and
    report the z statistic — the censoring-correct way to A/B-test a
    latency/retention effect (the naive mean-latency comparison is
    biased by censored users; `ab_conversion_ztest` compares only rates).

    Determinism: at-risk and event counts are exact integers (ordered
    window sums); each per-day term is a closed-form double over
    integers; the cross-day sums use the repo's decimal recipe (cast
    every term to DECIMAL(18,9), sum exactly, divide once). Scale: one
    user-keyed shuffle, one aggregate to |distinct durations| rows,
    windows over that tiny series, a 5-value final rollup.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        F.max("ts").alias("tlast"),
    )
    has_event = F.col("tp").isNotNull() & (F.col("tp") >= F.col("t0"))
    subjects = per_user.filter(F.col("t0").isNotNull()).select(
        (F.col("user_id") % 2).alias("arm"),
        has_event.cast("long").alias("event_flag"),
        F.when(
            has_event,
            F.floor(
                (F.unix_micros("tp") - F.unix_micros("t0")) / 86_400_000_000
            ),
        )
        .otherwise(
            F.floor(
                (F.unix_micros("tlast") - F.unix_micros("t0"))
                / 86_400_000_000
            )
        )
        .alias("dur"),
    ).localCheckpoint(eager=False)
    counts = subjects.groupBy("dur").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("event_flag")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("arm") == 0, 1 - F.col("event_flag")).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("arm") == 1, F.col("event_flag")).otherwise(0)).alias("d2"),
        F.sum(F.when(F.col("arm") == 1, 1 - F.col("event_flag")).otherwise(0)).alias("c2"),
    )
    # both arm totals in one aggregation job (was two passes over subjects)
    tots = subjects.agg(
        F.coalesce(
            F.sum((F.col("arm") == 0).cast("long")), F.lit(0)
        ).alias("t1"),
        F.coalesce(
            F.sum((F.col("arm") == 1).cast("long")), F.lit(0)
        ).alias("t2"),
    ).collect()[0]
    tot1, tot2 = tots["t1"], tots["t2"]
    wprev = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    risk = counts.select(
        "dur",
        "d1",
        "d2",
        (
            F.lit(tot1)
            - F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(wprev), F.lit(0))
        ).alias("n1"),
        (
            F.lit(tot2)
            - F.coalesce(F.sum(F.col("d2") + F.col("c2")).over(wprev), F.lit(0))
        ).alias("n2"),
    ).filter(F.col("d1") + F.col("d2") > 0)
    d = F.col("d1") + F.col("d2")
    n = F.col("n1") + F.col("n2")
    e1 = d.cast("double") * F.col("n1") / n
    var_t = F.when(
        n > 1,
        d.cast("double")
        * F.col("n1")
        / n
        * (F.lit(1.0) - F.col("n1").cast("double") / n)
        * (n - d)
        / (n - 1),
    ).otherwise(F.lit(0.0))
    terms = risk.select(
        "d1",
        e1.alias("e1"),
        (F.col("d1").cast("double") - e1).alias("o_minus_e"),
        var_t.alias("var_t"),
    )
    dec = lambda c: F.sum(F.col(c).cast("decimal(18,9)")).cast("double")  # noqa: E731
    return terms.agg(
        F.count(F.lit(1)).alias("n_event_days"),
        F.sum("d1").alias("observed_arm0"),
        F.round(dec("e1"), 6).alias("expected_arm0"),
        F.round(dec("var_t"), 6).alias("variance"),
        # zero total variance (lone subject / every event day exhausts
        # its risk set) -> NULL z, not a Spark ANSI DIVIDE_BY_ZERO
        F.when(
            dec("var_t") > 0,
            F.round(dec("o_minus_e") / F.sqrt(dec("var_t")), 6),
        ).alias("z_score"),
    )


_PSI_BINS = 10
_PSI_LO, _PSI_HI = 0.0, 600_000.0  # o_totalprice domain bins (fixed width)
_PSI_SPLIT = "1998-07-01"  # reference period < split <= current period
# (the synthetic orders span 1995-01..2001-08; the split bisects that range)


@EVT.register(
    "psi_drift_orders",
    oracle=f"""
    WITH binned AS (
      SELECT CASE WHEN o_orderdate < DATE '{_PSI_SPLIT}' THEN 0 ELSE 1 END
               AS period,
             least(CAST(floor((o_totalprice - {_PSI_LO})
                              / (({_PSI_HI} - {_PSI_LO}) / {_PSI_BINS}))
                        AS BIGINT), {_PSI_BINS - 1}) AS bin
      FROM orders
    ), cells AS (
      SELECT bin,
             SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cells
    )
    SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round((CAST(n_cur + 1 AS DOUBLE) / (t_cur + {_PSI_BINS})
                  - CAST(n_ref + 1 AS DOUBLE) / (t_ref + {_PSI_BINS}))
                 * ln((CAST(n_cur + 1 AS DOUBLE) / (t_cur + {_PSI_BINS}))
                      / (CAST(n_ref + 1 AS DOUBLE)
                         / (t_ref + {_PSI_BINS}))), 9) AS psi_term
    FROM cells, tot
    """,
)
def psi_drift_orders(spark, sf_dir):
    """Population stability index (PSI) between the pre-{1998-07} reference
    period and the current period, over fixed-width order-value bins —
    the standard model-monitoring drift metric (PSI > 0.2 is the
    conventional retrain trigger); per-bin terms localize WHERE the
    distribution moved. Counts are add-1 smoothed (the usual guard
    against empty bins exploding the log).

    Determinism: bin ids and counts are exact integers; each PSI term is
    one closed-form double over four integers, rounded to 9 — no
    cross-bin float accumulation (consumers decimal-sum the rounded
    terms, or read them per-bin as emitted here). Scale: one map-side-
    combined aggregate to ≤{10} cells, one 1-row total broadcast back.
    """
    o = load_table(spark, sf_dir, "orders")
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    binned = o.select(
        F.when(
            F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("date"), 0
        )
        .otherwise(1)
        .alias("period"),
        F.least(
            F.floor((F.col("o_totalprice") - _PSI_LO) / width).cast("long"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    tot = cells.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = (F.col("n_cur") + 1).cast("double") / (
        F.col("t_cur") + _PSI_BINS
    )
    p_ref = (F.col("n_ref") + 1).cast("double") / (
        F.col("t_ref") + _PSI_BINS
    )
    return cells.join(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 9).alias(
            "psi_term"
        ),
    )


@EVT.register(
    "session_entropy_users",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), tot AS (
      SELECT user_id, SUM(c) AS n FROM cnt GROUP BY user_id
    ), terms AS (
      SELECT cnt.user_id, tot.n,
             CAST(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                  AS DECIMAL(18,12)) AS term
      FROM cnt JOIN tot USING (user_id)
    )
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           round(CAST(SUM(term) AS DOUBLE), 6) AS entropy
    FROM terms GROUP BY user_id
    """,
)
def session_entropy_users(spark, sf_dir):
    """Behavioral diversity per user: Shannon entropy of each user's
    event-type distribution — entropy ≈ 0 flags single-action accounts
    (bots, scrapers hammering one endpoint), high entropy marks organic
    mixed usage. The standard behavioral-segmentation feature next to
    the volume-based RFM quartiles.

    Determinism: counts are exact integers; each −p·ln p term is one
    closed-form double cast to DECIMAL(18,12) (a decimal tie is not
    binary-representable, so both engines round identically) and the
    per-user sum is the exact decimal sum — summation order never
    matters; round(6) on output. Scale: two map-side-combined aggregates
    keyed on (user, type) then user; the entropy projection is bounded
    by |types| terms per user.
    """
    e = load_table(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    terms = cnt.join(tot, "user_id").select(
        "user_id",
        "n",
        (-p * F.log(p)).cast("decimal(18,12)").alias("term"),
    )
    return terms.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.sum("term").cast("double"), 6).alias("entropy"),
    )


@EVT.register(
    "ks_test_order_periods",
    oracle="""
    WITH tagged AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderdate < DATE '1998-07-01' THEN 1 ELSE 0 END
               AS is_ref,
             CASE WHEN o_orderdate < DATE '1998-07-01' THEN 0 ELSE 1 END
               AS is_cur
      FROM orders
    ), tot AS (
      SELECT SUM(is_ref) AS n_ref, SUM(is_cur) AS n_cur FROM tagged
    ), cum AS (
      SELECT x,
             SUM(is_ref) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ref,
             SUM(is_cur) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_cur
      FROM tagged
    ), steps AS (
      -- evaluate both ECDFs at each distinct value: the max cumulative
      -- count at that value (ties collapse to their last row)
      SELECT x, MAX(c_ref) AS c_ref, MAX(c_cur) AS c_cur
      FROM cum GROUP BY x
    )
    SELECT CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           round(MAX(abs(CAST(c_ref AS DOUBLE) / n_ref
                         - CAST(c_cur AS DOUBLE) / n_cur)), 9) AS ks_d
    FROM steps, tot GROUP BY n_ref, n_cur
    """,
)
def ks_test_order_periods(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the pre-1998-07 and
    later order-value distributions (the split bisects the synthetic
    1995-2001 date range): D = max over values of the
    absolute ECDF gap — the binning-free companion to `psi_drift_orders`
    (PSI answers "how much drift per region of the range", KS answers
    "how far apart are the distributions at their worst point" with no
    bin choices to defend).

    Determinism: cumulative counts are integer window sums over a total
    order on (value); ties collapse per distinct value via MAX, so tie
    order inside the window cannot matter; each ECDF gap is one double
    division pair over integers, rounded 9 after the max. Scale: one
    global sort of the value column drives the cumulative window — the
    classic sort-based ECDF; at 100 TB swap in a t-digest/KLL two-sketch
    approximation, everything upstream unchanged.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window as _W

    tagged = o.select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderdate") < F.lit("1998-07-01").cast("date"))
        .cast("long")
        .alias("is_ref"),
        (F.col("o_orderdate") >= F.lit("1998-07-01").cast("date"))
        .cast("long")
        .alias("is_cur"),
    )
    n_ref, n_cur = (
        tagged.agg(F.sum("is_ref"), F.sum("is_cur")).first()
    )
    wcum = _W.orderBy("x").rowsBetween(_W.unboundedPreceding, 0)
    cum = tagged.select(
        "x",
        F.sum("is_ref").over(wcum).alias("c_ref"),
        F.sum("is_cur").over(wcum).alias("c_cur"),
    )
    steps = cum.groupBy("x").agg(
        F.max("c_ref").alias("c_ref"), F.max("c_cur").alias("c_cur")
    )
    # degenerate guard: an EMPTY period (every order on one side of the
    # split) has no ECDF, so D is undefined — NULL ks_d, matching the
    # oracle's NULL-propagating /0, instead of a Spark ANSI
    # DIVIDE_BY_ZERO on the literal zero count
    if not n_ref or not n_cur:
        ks = F.lit(None).cast("double")
    else:
        ks = F.round(
            F.max(
                F.abs(
                    F.col("c_ref").cast("double") / n_ref
                    - F.col("c_cur").cast("double") / n_cur
                )
            ),
            9,
        )
    return steps.agg(
        F.lit(n_ref).alias("n_ref"),
        F.lit(n_cur).alias("n_cur"),
        ks.alias("ks_d"),
    )


@EVT.register(
    "interarrival_burstiness_users",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ), g AS (
      SELECT user_id, gap FROM gaps WHERE gap IS NOT NULL
    ), agg AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(gap) AS BIGINT) AS s_us,
             CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(gap AS DECIMAL(38,0))
                      * CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS ss
      FROM g GROUP BY user_id
    )
    -- mean gap rounded to 6 dp of seconds == HALF-UP integer micros:
    -- (2s + n) // (2n) is exact int64 arithmetic on both engines, so the
    -- representation-boundary tie that splits round(s/n/1e6, 6) between
    -- Spark's BigDecimal HALF_UP and DuckDB's scaled-multiply round
    -- (first seen at sf0.1, user 764: ...043 vs ...042) cannot occur
    -- degenerate guards: greatest(,0) absorbs the -epsilon a double
    -- rounding of n*ss - s*s can produce at zero variance (DuckDB's
    -- sqrt(negative) raises, Spark's yields NaN), and s_us = 0 (every
    -- gap zero: all of a user's events share one timestamp, so mu =
    -- sigma = 0) makes B = 0/0 -> NULL instead of a Spark ANSI
    -- DIVIDE_BY_ZERO crash
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           CAST((2 * s_us + n) // (2 * n) AS DOUBLE) / 1000000.0
             AS mean_gap_s,
           CASE WHEN s_us > 0 THEN
             round((sqrt(greatest(n * ss - s * s, 0.0)
                         / (CAST(n AS DOUBLE) * n)) - s / n)
                   / (sqrt(greatest(n * ss - s * s, 0.0)
                           / (CAST(n AS DOUBLE) * n)) + s / n),
                   9)
           END AS burstiness
    FROM agg WHERE n >= 2
    """,
)
def interarrival_burstiness_users(spark, sf_dir):
    """Inter-arrival burstiness per user: B = (σ−μ)/(σ+μ) over the gaps
    between a user's consecutive events (Goh-Barabási) — B→−1 is a
    metronome (scheduled bot), B≈0 is Poisson (organic), B→+1 is extreme
    burst-and-silence. The timing-based bot signal complementing
    `session_entropy_users`' action-mix signal.

    Determinism: gaps are exact integer micros (lag over a total order
    with event_id tiebreak); Σgap and Σgap² are exact decimal sums; σ, μ,
    and B are closed-form doubles over them, rounded. Scale: one user-
    keyed window for the lag, one map-side-combined aggregate — nothing
    downstream of the first shuffle scales with event count.
    """
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    dg = F.col("gap").cast("decimal(38,0)")
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        # exact int64 micros for the mean (gap sums overflow int64 only
        # past ~292k years of cumulative per-user gap); decimal sums for
        # the variance, whose squares genuinely need 38 digits
        F.sum("gap").alias("s_us"),
        F.sum(dg).cast("double").alias("s"),
        F.sum(dg * dg).cast("double").alias("ss"),
    ).filter(F.col("n") >= 2)
    mu = F.col("s") / F.col("n")
    # greatest(,0) absorbs the -epsilon double rounding can produce at
    # zero variance (DuckDB raises on sqrt(negative), Spark yields NaN)
    sigma = F.sqrt(
        F.greatest(
            F.col("n") * F.col("ss") - F.col("s") * F.col("s"), F.lit(0.0)
        )
        / (F.col("n").cast("double") * F.col("n"))
    )
    # mean gap at 6 dp of seconds == HALF-UP integer micros, computed as
    # exact integer division so both engines resolve representation-
    # boundary ties identically (round(s/n/1e6, 6) split Spark's
    # BigDecimal HALF_UP from DuckDB's scaled-multiply round at sf0.1)
    mean_us = F.expr("(2 * s_us + n) div (2 * n)")
    return agg.select(
        "user_id",
        F.col("n").alias("n_gaps"),
        (mean_us.cast("double") / 1_000_000.0).alias("mean_gap_s"),
        # all-zero gaps (every event of the user on one timestamp) make
        # B = 0/0 — NULL, not a Spark ANSI DIVIDE_BY_ZERO crash; the
        # F.when guard keeps the division unevaluated on those rows
        F.when(
            F.col("s_us") > 0, F.round((sigma - mu) / (sigma + mu), 9)
        ).alias("burstiness"),
    )


_PATH_TOPK = 20


@EVT.register(
    "event_top_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT e1, e2, e3, COUNT(*) AS n
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY e1, e2, e3
    )
    SELECT e1, e2, e3, CAST(n AS BIGINT) AS n, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY n DESC, e1, e2, e3) AS INT) AS rank
      FROM paths)
    WHERE rank <= {_PATH_TOPK}
    """,
)
def event_top_paths(spark, sf_dir):
    """Top-{20} most frequent 3-step behavioral paths (consecutive
    event-type triples per user) — the path-mining extension of
    `event_transition_matrix`'s first-order pairs: paths expose
    multi-step flows (view→click→purchase vs view→error→view) that no
    pairwise matrix can, and rank the dominant journeys for funnel
    design.

    Determinism: triples come from lead() over a total per-user order
    (ts, event_id tiebreak); counts are integers; ranking breaks ties on
    the path text. Scale: ONE user-keyed exchange feeds both window
    leads, then a map-side-combined aggregate bounded by |types|³ and a
    top-k over that tiny table.
    """
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = seq.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).alias("n")
    )
    wr = _W.orderBy(F.desc("n"), "e1", "e2", "e3")
    return (
        paths.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _PATH_TOPK)
    )


@EVT.register(
    "attribution_last_touch",
    oracle="""
    WITH marked AS (
      SELECT ts, event_type, value,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                             THEN ts END IGNORE NULLS) OVER w AS t_ts,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS) OVER w AS t_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), purch AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CASE WHEN t_ts IS NOT NULL AND t_ts >= ts - INTERVAL 7 DAY
                  THEN t_type ELSE 'direct' END AS touch_type,
             value
      FROM marked WHERE event_type = 'purchase'
    )
    SELECT day, touch_type, COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
    FROM purch GROUP BY 1, 2
    """,
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: credit each purchase to the most
    recent preceding view/click by the same user within a 7-day lookback,
    or to 'direct' when no touch qualifies — the credit-assignment report
    behind every campaign dashboard, and a different shape from the funnel
    (`funnel_view_click_purchase` asks how far users progress; this asks
    which touch gets the revenue). Reports purchases and attributed value
    per (day, touch type).

    Determinism: the per-user event order is the total order (ts,
    event_id) — event_id is unique — so the ROWS-frame last-non-null touch
    is identical cross-engine; revenue sums are decimal(18,6)-exact before
    the final double cast. Scale: ONE shuffle of events on user_id for the
    window (ignore-nulls last over a running frame — no self-join, where
    the naive form is an as-of self-join of purchases against touches),
    then a tiny map-side-combined groupBy over (day, touch_type); the
    purchase filter cannot precede the window (the window must see the
    touch rows) but drops ~80% of rows before the aggregate.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    marked = e.select(
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("t_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("t_type"),
    )
    purch = marked.filter(F.col("event_type") == "purchase").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.when(
            F.col("t_ts").isNotNull()
            & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
            F.col("t_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("touch_type"),
        "value",
    )
    return purch.groupBy("day", "touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        dsum("value", "attributed_value", scale=6),
    )
