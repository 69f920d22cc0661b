"""Structured Streaming operators (SURVEY.md §2.2: native Spark capability —
the reference's "streaming" is only bounded file I/O, README.md:9).

``streaming_tumbling_5min`` runs a real streaming query — file source over
the events parquet, tumbling event-time window with watermark, memory sink,
``availableNow`` trigger — synchronously to completion, then returns the
result. Because the batch is bounded and the output mode is "complete", the
result equals the batch tumbling aggregate, so it shares that query's DuckDB
oracle: the driver gets a full value-hash check on a streaming operator.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from ..functions.exprs import money
from ..operators.base import Registry, normalize_event_time, session_memo

STREAMING = Registry()

_counter = threading.Lock()
_n = [0]


def _events_stream(spark, sf_dir):
    """File-source stream over the events table with event-time
    normalization (nanos-as-long or TIMESTAMP_NTZ → TIMESTAMP, the one type
    ``withWatermark`` accepts) — the streaming twin of
    ``operators.base.load_table``; both ride ``normalize_event_time`` so
    batch and streaming read identical types."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    source = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_time(source, "ts")


@STREAMING.register(
    "streaming_tumbling_5min",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_5min(spark, sf_dir):
    """Watermarked tumbling-window aggregate as a Structured Streaming query.

    Scale: on an unbounded source the same plan runs continuously; the
    watermark bounds state (late rows beyond 10 min are dropped), and the
    window+type grouping keeps per-trigger state proportional to active
    windows, not history.
    """
    with _counter:
        _n[0] += 1
        sink = f"streaming_tumbling_out_{_n[0]}"
    # the file streaming source wants a directory: _events_stream globs just
    # the events file out of the sf dir and normalizes the ts type
    source = _events_stream(spark, sf_dir)
    stream = (
        source.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value", 6)).cast("double").alias("sum_value"),
        )
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@STREAMING.register(
    "streaming_sliding_10min",
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
def streaming_sliding_10min(spark, sf_dir):
    """Watermarked sliding-window aggregate: 10-minute windows hopping
    every 5 — the streaming twin of ``events_sliding_10min`` (same oracle).

    Scale: per-trigger state is |active windows| × |types| with each event
    feeding size/hop = 2 windows; the watermark closes windows 10 minutes
    after their end and evicts their state, so an unbounded stream holds a
    bounded window set.
    """
    with _counter:
        _n[0] += 1
        sink = f"streaming_sliding_out_{_n[0]}"
    source = _events_stream(spark, sf_dir)
    stream = (
        source.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value", 6)).cast("double").alias("sum_value"),
        )
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@STREAMING.register(
    "streaming_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def streaming_session_window(spark, sf_dir):
    """Gap-merged session windows via Structured Streaming's native
    `session_window(ts, '30 minutes')`.

    The streaming session operator merges events whose gaps are < 30 min —
    exactly the batch lag+cumsum sessionization — so the batch window-SQL
    CTE is its oracle: a full value-hash check on a stateful streaming op.

    Scale: session state is per (user, open-session); the watermark closes
    sessions and evicts state; on an unbounded source this runs continuously.
    """
    with _counter:
        _n[0] += 1
        sink = f"streaming_session_out_{_n[0]}"
    source = _events_stream(spark, sf_dir)
    agg = (
        source.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
    )


@STREAMING.register(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(spark, sf_dir):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals held in explicit GroupState.

    This is the arbitrary-stateful-processing escape hatch (the operator you
    reach for when window/session aggregates can't express the semantics —
    counters, ML feature state, CEP). State is one (count, sum) pair per
    user; on a bounded availableNow run every user emits its final totals,
    which equals the batch GROUP BY — the oracle.

    Scale: state is keyed by user_id (high cardinality → even partitions),
    size O(1) per key, checkpointed by the state store; processing is
    Arrow-batched pandas per group.
    """
    import pandas as _pd

    with _counter:
        _n[0] += 1
        sink = f"streaming_stateful_out_{_n[0]}"
    source = _events_stream(spark, sf_dir)

    def update_totals(key, pdfs, state):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            # exact decimal-cent accumulation to match the oracle's
            # DECIMAL(18,6) sum: work in integer micros
            total += int(
                (_pd.Series(pdf["value"]) * 1_000_000).round().sum()
            )
        state.update((n, total))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total / 1_000_000],
            }
        )

    agg = source.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@STREAMING.register(
    "streaming_static_enrichment",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def streaming_static_enrichment(spark, sf_dir):
    """Stream-static join: an event stream enriched against a static
    dimension (customer), then aggregated by segment — the standard
    "enrich events with reference data" streaming topology.

    Scale: the static side is broadcast once per trigger (Spark re-plans
    stream-static joins each micro-batch, so dimension updates are picked
    up); stream state is only the running aggregate, keyed by the tiny
    segment dimension with map-side partial aggregation ahead of it.
    """
    from ..operators.base import load_table

    source = _events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    with _counter:
        _n[0] += 1
        sink = f"streaming_enrich_out_{_n[0]}"
    joined = source.join(
        customer, source.user_id == customer.c_custkey
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value", 6)).cast("double").alias("sum_value"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@STREAMING.register(
    "streaming_dedup_exactly_once",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_exactly_once(spark, sf_dir):
    """Streaming deduplication: the event stream unioned with ITSELF (every
    event arrives twice) then ``dropDuplicatesWithinWatermark`` on event_id
    — at-least-once delivery collapsed to exactly-once, counted per type.
    The duplicated input makes the dedup observable: without it the counts
    would be 2×.

    Scale: dedup state is keyed by event_id and evicted once the watermark
    passes each key's event time — the operator built for at-least-once
    replays. (Plain ``dropDuplicates([key])`` would NEVER evict here: Spark
    only ages dedup state when the watermark column is part of the key
    subset, so its state grows with every distinct key forever.)
    """
    source = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    with _counter:
        _n[0] += 1
        sink = f"streaming_dedup_out_{_n[0]}"
    deduped = (
        source.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    q = (
        deduped.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@STREAMING.register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '10 minutes'
    """,
)
def streaming_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: clicks joined to the purchases that
    followed within 10 minutes, both sides unbounded streams — the
    attribution topology, and the one streaming join kind that needs
    dual-sided state.

    Scale: both watermarks plus the time-bound join condition let Spark
    evict buffered rows once the other side can no longer match (state is
    O(rate × window), not O(history)); the join shuffles both streams on
    user_id. The availableNow run drains the bounded corpus, so the result
    equals the batch interval join — the oracle.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
        ).alias("secs_to_purchase"),
    )
    with _counter:
        _n[0] += 1
        sink = f"streaming_ssj_out_{_n[0]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


_SSJ_OUTER_ORACLE = """
    WITH clicks AS (
      SELECT user_id AS cu, event_id AS cid, ts AS cts
      FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id AS pu, event_id AS pid, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ), wm AS (
      -- global watermark: min over both inputs of (max event ms - delay);
      -- a left row's null form emits once its join window upper bound
      -- (c_ts + 10 min) crossed below it
      SELECT least((SELECT epoch_us(MAX(cts)) // 1000 FROM clicks),
                   (SELECT epoch_us(MAX(pts)) // 1000 FROM purch))
             - 600000 AS wm_ms
    )
    SELECT cu AS user_id, cid AS click_id, pid AS purchase_id,
           (epoch_us(pts) - epoch_us(cts)) // 1000000 AS secs_to_purchase
    FROM clicks JOIN purch
      ON cu = pu AND pts >= cts
     AND pts <= cts + INTERVAL 10 MINUTE
    UNION ALL
    SELECT cu, cid, NULL, NULL
    FROM clicks c, wm
    WHERE NOT EXISTS (
        SELECT 1 FROM purch
        WHERE pu = c.cu AND pts >= c.cts
          AND pts <= c.cts + INTERVAL 10 MINUTE)
      AND epoch_us(c.cts) < wm.wm_ms * 1000 - 600000000
    """


@STREAMING.register(
    "streaming_stream_stream_left_outer", oracle=_SSJ_OUTER_ORACLE
)
def streaming_stream_stream_left_outer(spark, sf_dir):
    """LEFT OUTER stream-stream interval join: every click, attributed to
    the purchases that followed within 10 minutes — clicks with NO
    purchase emit a null-extended row once the watermark proves no match
    can still arrive. The operator real attribution pipelines need (inner
    joins silently drop non-converting clicks).

    Oracled since round-5 session 2 (was rows-only): outer-row emission is
    governed by the FINAL watermark, and that cutoff IS batch-expressible
    — the same technique as ``streaming_chained_windows``. The oracle's
    null leg keeps unmatched clicks with
    c_ts < global_wm − 10 min, where global_wm = min over both inputs of
    (max event ms − 10 min); verified emission-exact at sf0.001 (208
    nulls) and sf0.01 (1996 nulls). Sub-millisecond boundary semantics
    inside Spark's ms-granular watermark are not observable unless an
    unmatched click lands within ~1 ms of the cutoff (measure-zero for
    microsecond-random event times); tests/test_streaming_outer_join.py
    keeps the margin-based pin as the backstop.

    Scale: same dual-watermark state eviction as the inner variant — state
    is O(rate x window) per side; the outer side additionally holds each
    left row until its window passes the watermark, which the time-bound
    condition guarantees is finite.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        # Floor of the microsecond DIFFERENCE, not a difference of per-value
        # second floors: with sub-second event times the two disagree by 1
        # whenever frac(c_ts) > frac(p_ts), and the semantics pinned by
        # tests/test_streaming_outer_join.py are int(total_seconds()).
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000").alias(
            "secs_to_purchase"
        ),
    )
    with _counter:
        _n[0] += 1
        sink = f"streaming_ssj_outer_out_{_n[0]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@STREAMING.register(
    "streaming_global_topk_users",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
)
def streaming_global_topk_users(spark, sf_dir):
    """Streaming global top-k: the continuously-maintained leaderboard
    (top spenders, hottest keys, heaviest shards). Complete output mode is
    the one mode that permits ORDER BY + LIMIT on a streaming aggregate —
    every trigger re-emits the full, re-ranked top-10.

    Scale: state is the per-user running aggregate (high-cardinality key →
    even partitions); the sort ranks the AGGREGATED table (|users| rows),
    never raw events, and the limit bounds the sink write to k rows per
    trigger. The availableNow drain makes the final table equal the batch
    GROUP BY → ORDER BY → LIMIT — the oracle (tie-broken on user_id so the
    k-th place is deterministic on both engines).
    """
    from ..functions.exprs import money

    with _counter:
        _n[0] += 1
        sink = f"streaming_topk_out_{_n[0]}"
    source = _events_stream(spark, sf_dir)
    ranked = (
        source.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value", 6)).cast("double").alias("total_value"),
        )
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )
    q = (
        ranked.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def _tws_available() -> bool:
    """``transformWithStateInPandas`` speaks a protobuf state protocol to
    the JVM state server; without the ``protobuf`` package the driver-side
    worker crashes before ``init`` ever runs (STREAMING_PYTHON_RUNNER_
    INITIALIZATION_FAILURE importing StateMessage_pb2). Register the query
    only where the dependency exists — real clusters have it; this
    container must not pip install. The legacy-API sibling
    ``streaming_stateful_user_totals`` keeps arbitrary-stateful coverage
    driver-checked everywhere."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_ORACLE = """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY user_id
    """


def _register_tws(fn):
    if _tws_available():
        return STREAMING.register(
            "streaming_tws_user_stats", oracle=_TWS_ORACLE
        )(fn)
    return fn


@_register_tws
def streaming_tws_user_stats(spark, sf_dir):
    """Arbitrary stateful streaming via ``transformWithStateInPandas`` —
    the Spark 4 successor to ``applyInPandasWithState`` (typed state
    variables managed by the state-store, not one opaque tuple): per-user
    running (count, exact total in integer micros, first/last event time)
    held in a ValueState, emitted per trigger in update mode.

    On a bounded availableNow run the final update equals the batch GROUP
    BY — the oracle, so the driver value-checks the new API end to end
    (its sibling ``streaming_stateful_user_totals`` pins the legacy API).

    Scale: state is keyed by user_id — high cardinality, even partitions —
    with O(1) bytes per key; the state store checkpoints it per trigger,
    RocksDB-backed on a real cluster, and processing is Arrow-batched
    pandas per key group.
    """
    import pandas as _pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # event times as integer micros: exact, and state schemas
            # stay primitive-typed
            self._s = handle.getValueState(
                "stats",
                "n long, total_micros long, first_us long, last_us long",
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._s.get() if self._s.exists() else None
            n, total, first_us, last_us = prev or (0, 0, None, None)
            for pdf in rows:
                n += len(pdf)
                total += int(
                    (_pd.Series(pdf["value"]) * 1_000_000).round().sum()
                )
                ts_us = _pd.Series(pdf["ts"]).astype("int64") // 1000
                lo, hi = int(ts_us.min()), int(ts_us.max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
            self._s.update((n, total, first_us, last_us))
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_micros": [total],
                    "first_us": [first_us],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    with _counter:
        _n[0] += 1
        sink = f"streaming_tws_out_{_n[0]}"
    source = _events_stream(spark, sf_dir)
    out = source.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=(
            "user_id long, n_events long, total_micros long,"
            " first_us long, last_us long"
        ),
        outputMode="Update",
        timeMode="None",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "user_id",
        "n_events",
        (F.col("total_micros") / 1_000_000).alias("total_value"),
        F.date_format(
            F.timestamp_micros(F.col("first_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("first_ts"),
        F.date_format(
            F.timestamp_micros(F.col("last_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_ts"),
    )


@STREAMING.register(
    "streaming_chained_windows",
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                    '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n_events
    FROM events, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """,
)
def streaming_chained_windows(spark, sf_dir):
    """TWO stateful operators chained in ONE streaming query (Spark 3.4+
    capability): a watermarked 5-minute tumbling count re-aggregated into
    hourly totals by windowing over the first window column — the
    continuous-rollup topology (fine buckets for dashboards, coarse for
    retention) that previously required two queries and an intermediate
    sink.

    Append-mode semantics make the oracle exact: an hourly window emits
    iff its END ≤ final watermark (max event time − 10 min), and every
    5-minute bucket inside such an hour is also ≤ that watermark — so the
    streamed result equals the batch hourly aggregate RESTRICTED to hours
    closed by the watermark, which is what the oracle computes (verified:
    867 of 868 hours at sf0.001, the open tail hour correctly withheld).

    Scale: state is |active 5-min windows| + |active hours| per type;
    each level evicts on watermark, so unbounded streams hold a bounded
    two-level window set — the second aggregation's input is the tiny
    finalized-bucket stream, not events.
    """
    with _counter:
        _n[0] += 1
        sink = f"streaming_chained_out_{_n[0]}"
    source = _events_stream(spark, sf_dir)
    five_min = (
        source.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w5"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hourly = five_min.groupBy(
        F.window("w5", "1 hour").alias("wh"), "event_type"
    ).agg(F.sum("n").alias("n_events"))
    q = (
        hourly.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.date_format("wh.start", "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "event_type",
        "n_events",
    )


@STREAMING.register(
    "streaming_incremental_neardup",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM tok a JOIN tok b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
    """,
)
def streaming_incremental_neardup(spark, sf_dir):
    """CONTINUOUS corpus curation, end-to-end: the documents table arrives
    as a stream of JSONL files; each ``foreachBatch`` epoch runs the
    within-batch prefix-filter Jaccard join PLUS the batch-vs-corpus
    incremental join (`ops.incremental_neardup` — broadcast the bounded
    ingest batch, stream the corpus past it), appends the verified pairs
    to an epoch-keyed parquet accumulator (idempotent under foreachBatch's
    at-least-once replay — same mechanics as ``streaming/ingest.py``), and
    folds the batch into the corpus. The returned table is the accumulated
    pair set across every epoch.

    The correctness property IS the oracle: any split of the corpus into
    arrival batches yields exactly the full batch pair join — each
    unordered pair is found precisely once, in the epoch its later member
    arrives (same-epoch members: the within-batch join). The driver
    value-hashes the streaming composition against the same naive
    all-pairs SQL that checks `neardup_jaccard_pairs`.

    Scale: the per-epoch cost is |batch|² within-batch (prefix-filtered)
    plus one corpus scan with a broadcast batch — the steady-state
    production shape where the corpus is only ever read, never re-paired
    against itself; state lives in the parquet accumulator, not executor
    memory.
    """
    pairs, _ = _inc_neardup_accumulate(spark, sf_dir)
    return pairs.drop("epoch")


@session_memo("documents")
def _inc_neardup_accumulate(spark, sf_dir):
    """The epoch-carrying artifacts of the incremental near-dup stream:
    (pairs(epoch, doc_a, doc_b, jaccard), arrivals(epoch, doc_id)) —
    exposed (r13) so the label-maintenance query
    (`streaming_cc_label_maintenance`) can replay WHICH docs and pairs
    arrived in each epoch; `streaming_incremental_neardup` drops the
    epoch (its oracle must not depend on arrival batching).

    Session-memoized: repeated invocations in one session (bench / driver
    loops) would otherwise each write a full JSONL copy of the documents
    table plus a new checkpoint dir. The temp root is removed at
    interpreter exit (the returned DataFrame reads the parquet accumulator
    lazily, so it must outlive the call)."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..functions.exprs import tokens
    from ..ops import incremental_neardup, neardup_jaccard_prefix

    root = tempfile.mkdtemp(prefix="inc_neardup_stream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    pairs_dir = os.path.join(root, "pairs")
    corpus_dir = os.path.join(root, "corpus")
    ckpt = os.path.join(root, "ckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    # the "arriving stream": 5 range-partitioned JSONL files. The final
    # result provably does not depend on how docs are batched, so no
    # driver-side ordering/collect is needed to make this deterministic.
    docs.repartitionByRange(5, "doc_id").write.json(in_dir)
    schema = "doc_id long, lang string, text string"

    def process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.localCheckpoint()
        within = neardup_jaccard_prefix(
            batch, "doc_id", "text", block_col="lang", threshold=0.9
        ).select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "jaccard",
        )
        out = within
        if os.path.isdir(corpus_dir) and any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(corpus_dir)
            for f in fs
        ):
            corpus = spark.read.parquet(corpus_dir).select(
                "doc_id", "lang", tokens(F.col("text")).alias("toks")
            )
            cross = incremental_neardup(
                batch.select(
                    "doc_id", "lang", tokens(F.col("text")).alias("toks")
                ),
                corpus,
                "doc_id",
                "toks",
                block_col="lang",
                threshold=0.9,
            ).select(
                F.least("new_id", "corpus_id").alias("doc_a"),
                F.greatest("new_id", "corpus_id").alias("doc_b"),
                "jaccard",
            )
            out = out.unionByName(cross)
        # epoch-keyed overwrite: replays re-materialize identical content
        out.write.mode("overwrite").parquet(f"{pairs_dir}/epoch={epoch_id}")
        batch.write.mode("overwrite").parquet(
            f"{corpus_dir}/epoch={epoch_id}"
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multi-epoch incremental
        .json(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(pairs_dir).select(
            "epoch", "doc_a", "doc_b", "jaccard"
        ),
        spark.read.parquet(corpus_dir).select("epoch", "doc_id"),
    )


from ..operators.dedup import _CC_ORACLE  # noqa: E402


@STREAMING.register(
    "streaming_cc_label_maintenance", oracle=_CC_ORACLE
)
def streaming_cc_label_maintenance(spark, sf_dir):
    """Incremental connected-components maintenance — the dedup STATE
    counterpart of `streaming_incremental_neardup`: that query proves the
    pair stream composes to the batch pair set; this one proves the
    CLUSTER LABELS (the artifact keep/drop decisions actually read) can
    be maintained epoch by epoch without ever re-running the batch CC
    fixpoint over the full graph. Per arrival epoch: new docs enter as
    their own singleton labels, the epoch's new pairs are CONTRACTED
    through the current labels (an edge between two docs becomes an edge
    between their cluster representatives), connected components run on
    that tiny label graph only, and the |docs| label table takes one
    left-join relabel. Correct because edges are only ever ADDED —
    components merge and never split, so the contracted min-label merge
    preserves the invariant label == min member doc_id inductively
    (`ops.connected_components` returns component = min node id).

    The oracle is `dedup_connected_components`' recursive-closure CTE
    VERBATIM (shared `_CC_ORACLE`): the incrementally-maintained table
    must hash-equal the from-scratch batch clustering; label-table
    equality is also pinned in tests/test_streaming_ivfpq.py.

    Scale: per-epoch cost is O(|new pairs| + |affected labels|) for the
    contracted CC (the label graph is EDGES-sized, not corpus-sized;
    near-dup graphs at 0.9 Jaccard are sparse and mostly settled, so the
    fixpoint runs on a few rows) plus one |docs| map-side relabel join —
    never a corpus-scale re-pairing and never the multi-round full-graph
    fixpoint. The epoch loop is driver-orchestrated over the bounded
    epoch count (the scheduled-maintenance-job shape), with a
    localCheckpoint per epoch to truncate lineage; arrival/pair state
    lives in the stream's parquet accumulators.
    """
    pairs, arrivals = _inc_neardup_accumulate(spark, sf_dir)
    return _cc_fold_epochs(spark, pairs, arrivals)


def _cc_fold_epochs(spark, pairs, arrivals):
    """The per-epoch label fold of `streaming_cc_label_maintenance`,
    factored out (r13) so the weak-scaling probe
    (tools/cc_fold_scale_probe.py) times the literal production loop on
    synthetic epoch-partitioned inputs. ``pairs``: (epoch, doc_a, doc_b,
    ...); ``arrivals``: (epoch, doc_id). Returns (doc_id, cluster_id)."""
    from ..ops import connected_components

    # The epoch list is the UNION of arrival and pair epochs (r13
    # ADVICE): the shipped stream guarantees pair-epochs ⊆
    # arrival-epochs by construction, but this helper is also driven by
    # synthetic probe inputs (tools/cc_fold_scale_probe.py) where a pair
    # epoch with no arrivals would otherwise be silently skipped and the
    # label table silently wrong. Such an epoch just contracts its pairs
    # through the labels accumulated so far (pairs among never-arrived
    # docs still drop in the inner label join, as in the batch CC).
    epochs = sorted(
        {r["epoch"] for r in arrivals.select("epoch").distinct().collect()}
        | {r["epoch"] for r in pairs.select("epoch").distinct().collect()}
    )  # bounded: one row per arrival/pair file
    labels = None  # (doc_id, label); label == min doc_id of its cluster
    for e in epochs:
        fresh = (
            arrivals.filter(F.col("epoch") == e)
            .select("doc_id")
            .withColumn("label", F.col("doc_id"))
        )
        labels = (
            fresh if labels is None else labels.unionByName(fresh)
        )
        contracted = (
            pairs.filter(F.col("epoch") == e)
            .select("doc_a", "doc_b")
            .join(
                labels.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("label").alias("la"),
                ),
                "doc_a",
            )
            .join(
                labels.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("label").alias("lb"),
                ),
                "doc_b",
            )
            .select("la", "lb")
            .filter(F.col("la") != F.col("lb"))
            .distinct()
        )
        mapping = connected_components(contracted, "la", "lb").select(
            F.col("node").alias("label"),
            F.col("component").alias("new_label"),
        )
        labels = (
            labels.join(mapping, "label", "left")
            .select(
                "doc_id",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint()  # truncate the per-epoch lineage
        )
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    )


_IVFPQ_STREAM_FILES = 5  # arrival batches (one file per trigger)


@session_memo("embeddings")
def _ivfpq_stream_accumulate(spark, sf_dir):
    """The epoch-partitioned coded frame (epoch, vec_id, cell, codes,
    xnorm) accumulated by the streaming index build — the internal
    artifact `streaming_ivfpq_index_growth` audits; the epoch column is
    exposed here for the pytest pins (multi-epoch actually happened,
    epochs partition the id space) and dropped from the driver output,
    whose facts must not depend on arrival batching."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.similarity import _ivfpq_fit, _ivfpq_index_frame

    emb_path = os.path.join(sf_dir, "embeddings.parquet")

    # Freeze the quantizer BEFORE the stream starts: production systems
    # train the coarse centroids + residual codebooks on a bootstrap
    # corpus once, then serve the index while it grows — every arriving
    # batch is encoded against the same frozen artifacts (here the
    # session's `_ivfpq_fit` memo, shared with the batch build, which is
    # exactly what makes streaming-vs-batch equality provable).
    _ivfpq_fit(spark, sf_dir)

    root = tempfile.mkdtemp(prefix="ivfpq_stream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    coded_dir = os.path.join(root, "coded")
    ckpt = os.path.join(root, "ckpt")

    # the "arriving stream": range-partitioned PARQUET files (parquet,
    # not JSONL as the neardup stream uses — float arrays must round-trip
    # bit-exactly for the coded frames to be comparable)
    spark.read.parquet(emb_path).select(
        "vec_id", "embedding"
    ).repartitionByRange(_IVFPQ_STREAM_FILES, "vec_id").write.parquet(
        in_dir
    )

    def process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        coded = _ivfpq_index_frame(spark, sf_dir, source=batch_df)
        # epoch-keyed overwrite: an at-least-once replay of the same
        # epoch re-materializes identical content (idempotent), never
        # appends a duplicate
        coded.write.mode("overwrite").parquet(
            f"{coded_dir}/epoch={epoch_id}"
        )

    q = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)  # force multi-epoch growth
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(coded_dir).select(
        "epoch", "vec_id", "cell", "codes", "xnorm"
    )


@STREAMING.register(
    "streaming_ivfpq_index_growth",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(*) AS BIGINT) AS n_indexed,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_vec,
           CAST(COUNT(*) AS BIGINT) AS n_match_batch,
           CAST(COUNT(*) AS BIGINT) AS n_cell_in_domain,
           CAST(COUNT(*) AS BIGINT) AS n_codes_valid
    FROM embeddings
    """,
)
def streaming_ivfpq_index_growth(spark, sf_dir):
    """Incremental ANN index maintenance — the production posture the
    batch-only IVF-PQ build (`similarity_ann_ivfpq`) leaves
    undemonstrated: vectors ARRIVE as a stream, each `foreachBatch` epoch
    encodes only the new batch against the session's FROZEN coarse
    centroids + residual codebooks (`_ivfpq_fit` memo, trained once
    before the stream starts) and appends the coded rows to an
    epoch-keyed parquet accumulator (idempotent under at-least-once
    replay, the `streaming_incremental_neardup` mechanics) — the index is
    servable while it grows, and the corpus is never re-encoded.

    The correctness property IS the oracle (same design as the neardup
    stream): the accumulated coded frame must equal the batch
    `_ivfpq_index_frame` output on the union corpus EXACTLY — same cells,
    same residual codes, same IEEE-exact norms (both paths run the
    identical Arrow kernel under the identical frozen quantizer, so
    float equality is bit-for-bit). The equality is batch-SHAPE
    independent by the kernel's structure: every output row depends only
    on its own 64-float vector and the broadcast constants — xnorm is a
    per-row reduction, and the cell/code argmins consume per-row GEMM
    outputs whose k=64 contraction is never split by the BLAS at these
    shapes — so slicing the corpus into 5 stream files vs 32 batch
    partitions cannot move a bit (pinned by the row-for-row equality
    test at three scale factors). CAVEAT (r12 ADVICE): "the BLAS never
    reorders the k=64 contraction across batch shapes" is an EMPIRICAL
    pin, not a structural guarantee — a BLAS/threading upgrade that
    blocks or reorders the tiny contraction could flip n_match_batch
    red without any code change (a flaky red, never silent wrongness:
    cells/codes are integer argmins with deterministic tie-break, only
    the xnorm float could move ulps). Triage a red n_match_batch as
    environment drift FIRST — rerun tests/test_streaming_ivfpq.py's
    row-for-row equality; if the only diff is xnorm ulps, the BLAS
    assumption broke, not the operator (round-close checklist item). The audit row reports six facts that
    all equal COUNT(*) of the embeddings table iff the claim holds —
    total indexed rows, distinct vec_ids (no replay duplicates), rows
    whose (cell, codes, xnorm) match the batch build, cells inside
    [0, k), and well-formed code vectors (m 4-bit codes) — and the DuckDB
    oracle states each as COUNT(*), so any drift hashes red.

    Scale: per-epoch cost is ONE narrow Arrow pass over the arriving
    batch (no join, no shuffle — the quantizer ships broadcast as closure
    literals) plus a bounded parquet append; the final equality join is
    the AUDIT's cost, not the pipeline's (production serves the
    accumulator directly). State lives in the parquet accumulator, not
    executor memory, so a year of growth costs the same per batch as day
    one.
    """
    from ..operators.similarity import _IVF_K, _PQ_KSUB, _PQ_M
    from ..operators.similarity import _ivfpq_index_frame

    acc = _ivfpq_stream_accumulate(spark, sf_dir).drop("epoch")
    ref = _ivfpq_index_frame(spark, sf_dir).select(
        F.col("vec_id").alias("vec_id"),
        F.col("cell").alias("ref_cell"),
        F.col("codes").alias("ref_codes"),
        F.col("xnorm").alias("ref_xnorm"),
    )
    key = F.lit(0).alias("k")
    stats = acc.agg(
        F.count(F.lit(1)).alias("n_indexed"),
        F.count_distinct(F.col("vec_id")).alias("n_distinct_vec"),
        F.coalesce(
            F.sum(
                ((F.col("cell") >= 0) & (F.col("cell") < _IVF_K)).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("n_cell_in_domain"),
        F.coalesce(
            F.sum(
                (
                    (F.size("codes") == _PQ_M)
                    & F.forall(
                        "codes",
                        lambda c: (c >= 0) & (c < _PQ_KSUB),
                    )
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_codes_valid"),
    ).select(key, "*")
    match = (
        acc.join(ref, "vec_id")
        .agg(
            F.coalesce(
                F.sum(
                    (
                        (F.col("cell") == F.col("ref_cell"))
                        & (F.col("codes") == F.col("ref_codes"))
                        & (F.col("xnorm") == F.col("ref_xnorm"))
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_match_batch")
        )
        .select(key, "n_match_batch")
    )
    nvec = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(key, "n_vectors")
    )
    return (
        nvec.join(stats, "k")
        .join(match, "k")
        .select(
            "n_vectors",
            "n_indexed",
            "n_distinct_vec",
            "n_match_batch",
            "n_cell_in_domain",
            "n_codes_valid",
        )
    )


# Oracle facts for the serving proof come from DuckDB's independent
# coarse-quantizer replay down to per-query candidate counts
# (`_IVFPQ_CAND_CTES`, the hash-green ivfpq_selectivity_audit machinery):
# expected pairs per query = min(k, n_cand), because the ADC scan scores
# EXACTLY the probed cells' populations minus self and the window keeps k.
from ..operators.similarity import _IVFPQ_CAND_CTES as _SERVE_CTES  # noqa: E402
from ..operators.similarity import _TOP_K as _SERVE_K  # noqa: E402


@STREAMING.register(
    "streaming_ivfpq_index_serving",
    oracle=f"""
    {_SERVE_CTES}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand WHERE n_cand >= 1)
             AS n_queries_served,
           (SELECT CAST(SUM(LEAST({_SERVE_K}, n_cand)) AS BIGINT) FROM cand)
             AS n_batch_pairs,
           (SELECT CAST(SUM(LEAST({_SERVE_K}, n_cand)) AS BIGINT) FROM cand)
             AS n_stream_pairs,
           (SELECT CAST(SUM(LEAST({_SERVE_K}, n_cand)) AS BIGINT) FROM cand)
             AS n_rank_agree
    """,
)
def streaming_ivfpq_index_serving(spark, sf_dir):
    """Search the STREAMED index — the serving proof
    `streaming_ivfpq_index_growth` leaves open (r12 VERDICT item 3):
    that query audits the grown accumulator's ROWS against the batch
    build; this one runs the full IVF-PQ ADC top-k search
    (`_ivfpq_search_frame`, the identical kernel `similarity_ann_ivfpq`
    serves with) against BOTH the streaming accumulator and the batch
    index and proves the result sets equal — the grown index answers
    queries, not just stores matching rows.

    Facts (one row, all cross-checked against DuckDB's independent
    coarse-quantizer replay): `n_queries_served` = queries with >= 1
    candidate in the streamed search; `n_batch_pairs` / `n_stream_pairs`
    = top-k rows from each index, both equal to Σ_q min(k, n_cand_q)
    because the scan scores exactly the probed cells' populations minus
    self; `n_rank_agree` = (query, rank) positions where BOTH paths
    report the same neighbor with bit-equal approx_cos — equal to the
    pair count iff the streamed index serves identically. Determinism:
    per-candidate ADC arithmetic is row-local (LUT gathers + fixed-order
    subspace adds + one divide), so scores are bit-identical for
    bit-identical coded rows regardless of batch shape; rank ties break
    by neighbor_id in both paths. The coded-row equality itself is the
    empirically-pinned BLAS property of the growth audit — triage a red
    here exactly like a red n_match_batch (environment drift first; see
    the growth docstring and CLAUDE.md round-close notes).

    Scale: the search against the accumulator IS the production serving
    path — one narrow pass over the coded frame scoring each row only
    against queries probing its cell (nprobe/k of the corpus per query),
    one bounded top-k window; the equality join is the AUDIT's cost,
    bounded by N_QUERIES * k rows per side. Nothing re-encodes or
    re-scans raw vectors. Top-k id equality per query vector is also
    pinned in tests/test_streaming_ivfpq.py.
    """
    from ..operators.similarity import (
        _ivfpq_index_frame,
        _ivfpq_search_frame,
    )

    acc = _ivfpq_stream_accumulate(spark, sf_dir).drop("epoch")
    s_hits = _ivfpq_search_frame(spark, sf_dir, acc).localCheckpoint()
    b_hits = _ivfpq_search_frame(
        spark, sf_dir, _ivfpq_index_frame(spark, sf_dir)
    ).localCheckpoint()
    key = F.lit(0).alias("k")
    s_stats = s_hits.agg(
        F.count_distinct("query_id").alias("n_queries_served"),
        F.count(F.lit(1)).alias("n_stream_pairs"),
    ).select(key, "*")
    b_stats = b_hits.agg(
        F.count(F.lit(1)).alias("n_batch_pairs")
    ).select(key, "*")
    agree = (
        b_hits.select(
            "query_id",
            "rank",
            F.col("neighbor_id").alias("b_neighbor"),
            F.col("approx_cos").alias("b_cos"),
        )
        .join(
            s_hits.select(
                "query_id",
                "rank",
                F.col("neighbor_id").alias("s_neighbor"),
                F.col("approx_cos").alias("s_cos"),
            ),
            ["query_id", "rank"],
        )
        .agg(
            F.coalesce(
                F.sum(
                    (
                        (F.col("b_neighbor") == F.col("s_neighbor"))
                        & (F.col("b_cos") == F.col("s_cos"))
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_rank_agree")
        )
        .select(key, "n_rank_agree")
    )
    return (
        s_stats.join(b_stats, "k")
        .join(agree, "k")
        .select(
            "n_queries_served",
            "n_batch_pairs",
            "n_stream_pairs",
            "n_rank_agree",
        )
    )


@session_memo("documents")
def _manifest_stream_accumulate(spark, sf_dir):
    """The epoch-partitioned per-batch manifest partials (epoch,
    shard_id, n_docs, n_tokens, n_chars, checksum, min_doc_id,
    max_doc_id) accumulated by the streaming manifest build — exposed
    with the epoch column for the pytest pins; the registered query
    folds the epochs away."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.pipeline import _shard_manifest_frame

    doc_path = os.path.join(sf_dir, "documents.parquet")

    root = tempfile.mkdtemp(prefix="manifest_stream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    part_dir = os.path.join(root, "partials")
    ckpt = os.path.join(root, "ckpt")

    spark.read.parquet(doc_path).select(
        "doc_id", "text", "n_chars"
    ).repartitionByRange(_IVFPQ_STREAM_FILES, "doc_id").write.parquet(
        in_dir
    )

    def process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # epoch-keyed overwrite: replays re-materialize identical partials
        _shard_manifest_frame(batch_df).write.mode("overwrite").parquet(
            f"{part_dir}/epoch={epoch_id}"
        )

    q = (
        spark.readStream.schema("doc_id long, text string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(part_dir)


from ..operators.pipeline import _SHARD_MANIFEST_ORACLE


@STREAMING.register(
    "streaming_shard_manifest_growth", oracle=_SHARD_MANIFEST_ORACLE
)
def streaming_shard_manifest_growth(spark, sf_dir):
    """Incremental manifest maintenance — the streaming twin of
    `training_shard_manifest`, and the end-to-end demonstration of the
    property that manifest was DESIGNED around: every manifest statistic
    is a sum/min/max, so per-batch partials fold into exactly the batch
    manifest, no matter how arrival slices the corpus. Documents arrive
    as a parquet-file stream; each `foreachBatch` epoch aggregates ONLY
    its batch (the identical `_shard_manifest_frame` expressions — one
    map-side-combined groupBy over the arriving slice) and appends the
    16-row partial to an epoch-keyed idempotent accumulator; the
    published manifest is one fold over the tiny partials table
    (sum counts/checksums, min/max fences). A concat-then-hash digest
    would make this impossible — it cannot be updated without re-reading
    every document ever ingested, which is precisely why the checksum is
    an order-insensitive sum.

    The oracle is `training_shard_manifest`'s oracle VERBATIM (shared
    constant): the driver value-hashes that the streamed composition
    equals the batch manifest on the union corpus, column for column —
    the `streaming_incremental_neardup` design, but with a fully exact
    integer surface (no envelope needed).

    Scale: per-epoch cost is one narrow scan of the arriving batch into
    16 combined rows; accumulated state is 16 rows x epochs of integers
    in parquet, not executor memory; the fold is over that tiny table.
    A year of ingest updates the manifest at per-batch cost with no
    corpus re-read.
    """
    acc = _manifest_stream_accumulate(spark, sf_dir).drop("epoch")
    return acc.groupBy("shard_id").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("checksum").alias("checksum"),
        F.min("min_doc_id").alias("min_doc_id"),
        F.max("max_doc_id").alias("max_doc_id"),
    )


def _upsert_batch_state(df):
    """Within-frame latest-plus-count per key: struct max is
    lexicographic, and (ts, event_id) is a unique total order, so the
    max struct IS the latest record with its payload fields carried
    along. Shared by the every-epoch-rewrite upsert
    (`_upsert_stream_state`) and the log-structured delta chain
    (`_upsert_delta_chain`) — both folds are associative, which is what
    makes EITHER maintenance policy reproduce the batch answer."""
    return df.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
            "s"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


def _upsert_batch_fold(partials):
    """Fold upsert partials (any mix of per-batch deltas and prior
    snapshots) into one state frame: lexicographic struct-max picks the
    latest record, sum accumulates the counts. Associative and
    commutative, so ANY grouping of the inputs folds to the same state —
    the property both maintenance policies rest on."""
    return partials.groupBy("user_id").agg(
        F.max("s").alias("s"),
        F.sum("n_events").alias("n_events"),
    )


def _upsert_project(state):
    """Flat driver-facing projection of the keyed upsert state — shared
    by `streaming_upsert_latest_state` and `compact_upsert_snapshot` so
    the two maintenance policies ship byte-identical surfaces (last_ts
    through the seconds-level convention, see the upsert docstring)."""
    return state.select(
        "user_id",
        F.date_format(F.col("s.ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_ts"
        ),
        F.col("s.event_id").alias("last_event_id"),
        F.col("s.event_type").alias("last_event_type"),
        F.col("s.value").alias("last_value"),
        "n_events",
    )


#: The batch answer both upsert maintenance policies must reproduce —
#: one ROW_NUMBER window over the (ts, event_id) order per user. Shared
#: verbatim (the training_shard_manifest/streaming twin precedent) so a
#: drift in either policy hashes red against the same ground truth.
_UPSERT_BATCH_ORACLE = """
    WITH latest AS (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
    )
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type, value AS last_value,
           CAST(n_events AS BIGINT) AS n_events
    FROM latest WHERE rn = 1
    """


@session_memo("events")
def _upsert_stream_state(spark, sf_dir):
    """The final keyed state snapshot (user_id, s(ts, event_id,
    event_type, value), n_events) produced by the foreachBatch upsert
    fold, plus the number of snapshots taken — exposed for the pytest
    pins; the registered query projects the snapshot flat."""
    import atexit
    import os
    import shutil
    import tempfile

    ev_path = os.path.join(sf_dir, "events.parquet")
    root = tempfile.mkdtemp(prefix="upsert_stream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    state_dir = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize_event_time(
        spark.read.parquet(ev_path), "ts"
    ).select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).repartitionByRange(_IVFPQ_STREAM_FILES, "event_id").write.parquet(
        in_dir
    )
    schema = spark.read.parquet(in_dir).schema

    def process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        folded = _upsert_batch_state(batch_df)
        # fold into the LATEST snapshot strictly older than this epoch —
        # an at-least-once replay of epoch N must not read N's own
        # partial output, so the predecessor scan excludes >= N
        prev = [
            int(p.split("=", 1)[1])
            for p in (
                os.listdir(state_dir) if os.path.isdir(state_dir) else []
            )
            if p.startswith("epoch=") and int(p.split("=", 1)[1]) < epoch_id
        ]
        if prev:
            prior = spark.read.parquet(
                f"{state_dir}/epoch={max(prev)}"
            ).select("user_id", "s", "n_events")
            folded = _upsert_batch_fold(folded.unionByName(prior))
        # epoch-keyed overwrite: a replay re-materializes the identical
        # snapshot (max/sum over the same prior + batch), never doubles
        folded.write.mode("overwrite").parquet(
            f"{state_dir}/epoch={epoch_id}"
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    epochs = sorted(
        int(p.split("=", 1)[1])
        for p in os.listdir(state_dir)
        if p.startswith("epoch=")
    )
    return (
        spark.read.parquet(f"{state_dir}/epoch={epochs[-1]}").select(
            "user_id", "s", "n_events"
        ),
        len(epochs),
    )


@STREAMING.register(
    "streaming_upsert_latest_state", oracle=_UPSERT_BATCH_ORACLE
)
def streaming_upsert_latest_state(spark, sf_dir):
    """Keyed upsert state maintenance — the serving-table pattern the
    streaming family still lacked: a CDC-style event stream folds into a
    per-key state snapshot (latest record per user + lifetime event
    count) one `foreachBatch` epoch at a time, so the table is always
    servable and each batch costs |batch| + |keys|, never a corpus
    re-read. Replace-semantics (the latest record) and
    accumulate-semantics (the running count) fold in the same upsert:
    both are associative — latest is a max over the (ts, event_id) total
    order carried as a lexicographic struct max, the count is a sum — so
    ANY arrival slicing folds to the same state (the
    `streaming_shard_manifest_growth` argument, applied to keyed state).
    Replay safety: each epoch folds the latest snapshot STRICTLY older
    than itself with its own batch and overwrites its epoch-keyed
    snapshot, so at-least-once re-delivery re-materializes identical
    bytes.

    The oracle is the batch answer — one ROW_NUMBER window over the
    (ts, event_id) order per user — so the driver value-hashes that the
    incrementally-folded state equals the batch recomputation exactly
    (last_value is the raw double carried verbatim through struct max,
    not arithmetic — bit-exact cross-engine). last_ts is emitted through
    the repo's seconds-level date_format/strftime convention, NOT as a
    raw TIMESTAMP (r12 ADVICE): on a TIMESTAMP(NANOS) parquet layout
    Spark truncates ns->us while a TIMESTAMP_NS-reading DuckDB keeps
    nanos, so raw-timestamp stringify could diverge below the second;
    truncating to the second is identical in both engines on every
    layout, and the ORDER BY that PICKS the row still uses the raw ts.

    Scale: per-epoch cost is one map-side-combined aggregate over the
    arriving batch plus a |keys|-bounded merge with the prior snapshot;
    state is |keys| rows in parquet, not executor memory. The
    full-snapshot rewrite per epoch is the plain-parquet fallback — on a
    real lakehouse the same fold is MERGE INTO on Delta/Iceberg with
    log-structured amortization; the algorithm (associative keyed fold)
    is the demonstrated piece. Snapshot count and fold equality are
    pinned in tests/test_streaming_ivfpq.py.
    """
    state, _ = _upsert_stream_state(spark, sf_dir)
    return _upsert_project(state)


@session_memo("events")
def _upsert_delta_chain(spark, sf_dir):
    """The log-structured alternative to `_upsert_stream_state`: each
    foreachBatch epoch appends ONLY its batch's folded partials
    (epoch, user_id, s, n_events) to an epoch-keyed delta chain — it
    never reads prior state and never rewrites the snapshot, so
    per-epoch cost is |batch keys| rows flat in accumulated history
    (the every-epoch-rewrite variant pays |keys| per epoch). Returns
    (delta_frame, n_epochs, delta_dir). Session-memoized."""
    import atexit
    import os
    import shutil
    import tempfile

    ev_path = os.path.join(sf_dir, "events.parquet")
    root = tempfile.mkdtemp(prefix="upsert_delta_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    delta_dir = os.path.join(root, "delta")
    ckpt = os.path.join(root, "ckpt")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize_event_time(
        spark.read.parquet(ev_path), "ts"
    ).select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).repartitionByRange(_IVFPQ_STREAM_FILES, "event_id").write.parquet(
        in_dir
    )
    schema = spark.read.parquet(in_dir).schema

    def process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # epoch-keyed overwrite: an at-least-once replay of epoch N
        # re-materializes the identical delta (a pure function of the
        # batch), never appends a duplicate — same idempotence story as
        # the snapshot variant, without ever touching prior epochs
        _upsert_batch_state(batch_df).write.mode("overwrite").parquet(
            f"{delta_dir}/epoch={epoch_id}"
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    epochs = [
        int(p.split("=", 1)[1])
        for p in os.listdir(delta_dir)
        if p.startswith("epoch=")
    ]
    return (
        spark.read.parquet(delta_dir).select(
            "epoch", "user_id", "s", "n_events"
        ),
        len(epochs),
        delta_dir,
    )


@STREAMING.register(
    "compact_upsert_snapshot", oracle=_UPSERT_BATCH_ORACLE
)
def compact_upsert_snapshot(spark, sf_dir):
    """Log-structured upsert maintenance + compaction — the amortization
    `streaming_upsert_latest_state` documents as its own limitation: the
    every-epoch-rewrite policy pays |keys| per epoch (the plain-parquet
    stand-in for MERGE INTO), while this variant lets each epoch append
    ONLY its |batch-keys| delta partials and folds the delta chain back
    to ONE materialized snapshot in a separate compaction step — exactly
    the write-amplification trade a Delta/Iceberg lakehouse gives for
    free (deltas = the transaction log, this operator = OPTIMIZE /
    periodic compaction), demonstrated inside the engine on plain
    parquet (`compact_parquet`'s small-files rationale applied to keyed
    state).

    Correctness is the same associativity argument as the snapshot
    variant, one level stronger: the per-epoch partials were NEVER
    combined during ingest, so the compaction fold (one groupBy with
    lexicographic struct-max + sum over the whole chain) reproducing the
    batch answer proves the fold is slicing-invariant end to end. The
    oracle is `streaming_upsert_latest_state`'s oracle VERBATIM (shared
    constant, the manifest-twin precedent) — both maintenance policies
    hash against the same batch ROW_NUMBER ground truth, and the
    fold-equals-rewrite equality is pinned in
    tests/test_streaming_ivfpq.py.

    Scale: ingest cost per epoch is |batch keys| rows appended, flat in
    accumulated history; compaction is one map-side-combinable
    fold over the chain (|keys| x epochs rows of fixed-width structs —
    at 100 TB this is the scheduled OPTIMIZE job, amortized across
    epochs instead of paid in every one), materialized to a single
    parquet snapshot and served from it (the returned frame reads the
    compacted artifact, not the chain). The compacted artifact is
    written ONCE per (applicationId, sf_dir, fingerprint) — memoized
    alongside the delta chain (r13 ADVICE: a mode-overwrite rewrite on
    every invocation could transiently race a prior invocation's lazy
    read of the same path; content is deterministic, so the memo also
    costs nothing in coverage).
    """
    compacted_dir = _compacted_snapshot_dir(spark, sf_dir, "compacted")
    return _upsert_project(spark.read.parquet(compacted_dir))


@session_memo("events")
def _compacted_snapshot_dir(spark, sf_dir, which: str) -> str:
    """Materialize (once per applicationId/sf_dir/fingerprint) the
    compaction artifacts the log-structured pair serves from:
    ``which='compacted'`` is the full-chain fold
    (`compact_upsert_snapshot`'s serving snapshot), ``which='base'`` the
    older-half fold (`compact_upsert_incremental`'s "previous OPTIMIZE
    run" artifact). Returns the parquet dir path."""
    import os

    deltas, n_epochs, delta_dir = _upsert_delta_chain(spark, sf_dir)
    if which == "compacted":
        snap = _upsert_batch_fold(deltas)
        out_dir = os.path.join(os.path.dirname(delta_dir), "compacted")
    else:
        cut = n_epochs // 2  # where the previous scheduled compaction ran
        snap = _upsert_batch_fold(
            deltas.filter(F.col("epoch") <= cut).select(
                "user_id", "s", "n_events"
            )
        )
        out_dir = os.path.join(os.path.dirname(delta_dir), "compact_base")
    snap.coalesce(1).write.mode("overwrite").parquet(out_dir)
    return out_dir


@STREAMING.register(
    "compact_upsert_incremental", oracle=_UPSERT_BATCH_ORACLE
)
def compact_upsert_incremental(spark, sf_dir):
    """Incremental compaction — the property that makes the
    log-structured policy (`compact_upsert_snapshot`) viable FOREVER: a
    scheduled compaction never re-folds the whole history, it folds the
    PREVIOUS compacted snapshot with only the deltas appended since.
    Demonstrated literally: the delta chain is split at its midpoint,
    the older half folded and MATERIALIZED to parquet (the artifact the
    previous OPTIMIZE run left on disk), then the serving snapshot is
    one fold over that |keys|-row base plus the newer deltas — cost
    O(|keys| + |new deltas|), independent of how many epochs the base
    already absorbed. Associativity is what licenses the split: fold
    (fold(old), new) == fold(old ++ new) for the lexicographic
    struct-max and the count sum, so ANY compaction schedule yields the
    same state. The base artifact is written once per (applicationId,
    sf_dir, fingerprint) — `_compacted_snapshot_dir` memoizes it for
    the same transient-rewrite-race reason as the snapshot twin (r13
    ADVICE).

    Oracle: the batch ROW_NUMBER window a third time (shared
    `_UPSERT_BATCH_ORACLE`) — rewrite-every-epoch, full-chain fold, and
    incremental fold all hash against the same ground truth, which is
    the whole point. The three-way equality (incremental == full fold ==
    rewrite) is pinned in tests/test_streaming_ivfpq.py.

    Scale: this is the LSM/lakehouse amortization argument in one
    operator — at 100 TB the OPTIMIZE job's cost is bounded by the live
    key set plus the uncompacted tail, never by ingest history; without
    this property the chain fold of `compact_upsert_snapshot` would
    grow linearly with epochs and compaction would eventually cost more
    than the re-scan it exists to avoid.
    """
    deltas, n_epochs, _ = _upsert_delta_chain(spark, sf_dir)
    cut = n_epochs // 2  # where the "previous scheduled compaction" ran
    cols = ["user_id", "s", "n_events"]
    base_dir = _compacted_snapshot_dir(spark, sf_dir, "base")
    tail = deltas.filter(F.col("epoch") > cut).select(*cols)
    snap = _upsert_batch_fold(
        spark.read.parquet(base_dir).select(*cols).unionByName(tail)
    )
    return _upsert_project(snap)


from ..operators.pipeline import _BLOOM_AUDIT_ORACLE  # noqa: E402


@session_memo("documents")
def _decon_stream_partials(spark, sf_dir):
    """The per-epoch decontamination-audit partials (epoch, n_probes,
    n_cont, n_fn, n_fp) accumulated by the streaming probe — exposed
    with the epoch column for the pytest pins; the registered query
    folds the epochs away. Session-memoized.

    Setup mirrors production: the BENCHMARK deny-set is known before
    the stream starts (an eval suite is a fixed artifact), so the exact
    benchmark-shingle frame and the 16 KiB bloom bitmap literal are
    built ONCE from the static benchmark slice; each arriving batch is
    probed against both.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from ..functions.exprs import exploded_rows
    from ..operators.pipeline import (
        _BENCH_MOD,
        _bloom_audit_counts,
        _bloom_words_literal,
        _shingle_frame,
        _shingles_of,
    )

    doc_path = os.path.join(sf_dir, "documents.parquet")

    # deny-set state, built up front from the benchmark slice: the
    # DISTINCT shingle frame for the exact side (localCheckpoint — it
    # joins into every epoch and must not re-scan the corpus 5x) and
    # the bitmap literal for the bloom side
    bench = (
        exploded_rows(
            _shingle_frame(spark, sf_dir).filter(
                F.col("doc_id") % _BENCH_MOD == 0
            ),
            [],
            F.col("s"),
            "g",
        )
        .distinct()
        .localCheckpoint()
    )
    wlits = _bloom_words_literal(bench)
    bench_bg = F.broadcast(bench.withColumnRenamed("g", "bg"))

    root = tempfile.mkdtemp(prefix="decon_stream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    part_dir = os.path.join(root, "partials")
    ckpt = os.path.join(root, "ckpt")

    spark.read.parquet(doc_path).select(
        "doc_id", "text"
    ).repartitionByRange(_IVFPQ_STREAM_FILES, "doc_id").write.parquet(
        in_dir
    )

    def process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        probes = exploded_rows(
            _shingles_of(batch_df).filter(
                F.col("doc_id") % _BENCH_MOD != 0
            ),
            ["doc_id"],
            F.col("s"),
            "g",
        ).withColumn("__w", wlits).join(
            bench_bg, F.col("g") == F.col("bg"), "left_outer"
        )
        # epoch-keyed overwrite: an at-least-once replay of epoch N
        # re-materializes the identical 1-row partial (a pure function
        # of the batch), never double-counts
        _bloom_audit_counts(probes).write.mode("overwrite").parquet(
            f"{part_dir}/epoch={epoch_id}"
        )

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(part_dir)


@STREAMING.register(
    "streaming_contamination_probe", oracle=_BLOOM_AUDIT_ORACLE
)
def streaming_contamination_probe(spark, sf_dir):
    """Streaming decontamination — the ingest-time shape of the bloom
    deny-set check (r13 VERDICT item 6): documents arrive as a parquet
    file stream and every `foreachBatch` epoch probes ONLY its batch's
    shingles against the pre-built eval-suite state (the exact
    benchmark-shingle broadcast AND the 16 KiB bloom bitmap plan
    literal — `contamination_bloom_audit`'s two sides), appending one
    1-row count partial to an epoch-keyed idempotent accumulator. The
    published audit is one sum over the partials: every audit fact is a
    count, counts are associative, so ANY arrival slicing folds to the
    batch answer — the `streaming_shard_manifest_growth` argument
    applied to decontamination.

    The oracle is `contamination_bloom_audit`'s VERBATIM (shared
    `_BLOOM_AUDIT_ORACLE`): the availableNow stream drains the whole
    corpus, so the streamed fold must hash-equal the batch audit —
    exact counts exactly, and the two one-sided-error buckets
    (`no_false_negatives` is even STRONGER here: it sums false
    negatives across epochs, so one missed shingle in any batch flips
    the bucket). Streamed-equals-batch and multi-epoch are pinned in
    tests/test_streaming_decon.py.

    Scale: per-epoch cost is one narrow shingle+probe pass over the
    arriving batch (bloom side is pure JVM bit arithmetic on a plan
    literal; exact side broadcasts the eval-suite dictionary — tiny by
    definition) into ONE combined row; accumulated state is one row per
    epoch of integers in parquet. A year of ingest keeps the
    decontamination report current at per-batch cost with no corpus
    re-read — and a quarantine variant would write the flagged doc_ids
    per epoch with the same idempotence story.
    """
    from ..operators.pipeline import _bloom_audit_project

    acc = _decon_stream_partials(spark, sf_dir)
    agg = acc.agg(
        F.sum("n_probes").alias("n_probes"),
        F.sum("n_cont").alias("n_cont"),
        F.sum("n_fn").alias("n_fn"),
        F.sum("n_fp").alias("n_fp"),
    )
    return _bloom_audit_project(agg)
