"""Operator registry plumbing.

Each operator module registers named queries: a Spark builder
``(spark, sf_dir) -> DataFrame`` plus an optional ANSI-SQL oracle string that
DuckDB can run over the same parquet tables. ``__spark_entry__.py`` aggregates
every module's registry into the driver contract.
"""

from __future__ import annotations

import functools
import inspect
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "Query",
    "Registry",
    "UNREADABLE_FINGERPRINT",
    "load_table",
    "normalize_event_time",
    "path_fingerprint",
    "session_memo",
]

#: Constant sentinel returned by :func:`path_fingerprint` when the path
#: can't be statted. :func:`session_memo` bypasses the memo entirely when
#: it sees it: a lookup on it could alias two different unreadable states
#: (stale hit), and an insert per miss would grow the memo without bound
#: on a persistently unreadable path (ADVICE r7 — the previous os.urandom
#: sentinel had exactly that leak).
UNREADABLE_FINGERPRINT = ("__unreadable__",)


def session_memo(*tables: str):
    """Memoize ``fn(spark, sf_dir, *params)`` for the Spark application.

    The one reuse policy every shared build follows (checkpointed frames,
    trained codebooks, stream accumulators):

    - key: ``(applicationId, sf_dir, params)``, where ``params`` are the
      remaining arguments bound to ``fn``'s signature (defaults applied),
      so a positional and a keyword call share one entry;
    - fingerprint: :func:`path_fingerprint` of ``sf_dir/<table>.parquet``
      for each name in ``tables``, stored in the entry's VALUE, so a
      regenerated table (any one of them) misses and the new generation
      REPLACES the old entry instead of accumulating one per generation
      (r8 review: fingerprint-in-key leaked one checkpointed DataFrame per
      regeneration for the life of the app);
    - an unreadable table bypasses the memo for that call (no lookup, no
      insert): an unreadable state can only cost a recompute, never a
      stale hit or memo growth.

    The wrapper keeps ``fn``'s ``__module__``/``__doc__`` (the registry
    and per-module spans read them) and exposes its dict as ``.memo``:
    ``{key: (fingerprint, value)}``.
    """

    def deco(fn):
        sig = inspect.signature(fn)
        memo: dict = {}

        @functools.wraps(fn)
        def wrapper(spark, sf_dir, *args, **kwargs):
            fp = tuple(
                path_fingerprint(os.path.join(sf_dir, f"{t}.parquet"))
                for t in tables
            )
            if UNREADABLE_FINGERPRINT in fp:
                return fn(spark, sf_dir, *args, **kwargs)
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            key = (
                spark.sparkContext.applicationId,
                sf_dir,
                tuple(bound.arguments.values())[2:],
            )
            hit = memo.get(key)
            if hit is not None and hit[0] == fp:
                return hit[1]
            value = fn(spark, sf_dir, *args, **kwargs)
            memo[key] = (fp, value)
            return value

        wrapper.memo = memo
        return wrapper

    return deco


def path_fingerprint(path: str) -> tuple:
    """Cheap content fingerprint (mtime+size, recursive for directory
    layouts incl. partitioned key=val subdirs) for session-scoped memo
    keys — guards against the stale-green class where testdata is
    regenerated mid-session under the same path (NTZ-incident precedent;
    advisor r6). Fails SAFE: any OSError (e.g. racing a regeneration that
    renames part-files mid-walk) yields :data:`UNREADABLE_FINGERPRINT`,
    which callers treat as "don't cache at all" — an unreadable state can
    only cause an extra recompute, never a stale hit or memo growth."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            parts = []
            for root, dirs, files in os.walk(path):
                dirs.sort()
                rel = os.path.relpath(root, path)
                for name in sorted(files):
                    s = os.stat(os.path.join(root, name))
                    parts.append(
                        (os.path.join(rel, name), s.st_mtime_ns, s.st_size)
                    )
            return tuple(parts)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return UNREADABLE_FINGERPRINT


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-timezone TIMESTAMP.

    The events fixture has shipped in two parquet layouts across testdata
    generations: TIMESTAMP(NANOS) (surfaces as ``bigint`` under
    ``spark.sql.legacy.parquet.nanosAsLong``) and TIMESTAMP_NTZ micros.
    Batch and streaming must read the *same* type regardless — and
    ``withWatermark`` requires TIMESTAMP (it rejects TIMESTAMP_NTZ with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session timezone is pinned
    UTC (session.py), so the NTZ→TZ cast preserves the wall-clock values
    and DuckDB oracles keep hashing identically.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # nanos-as-long: ns are positive, so `div 1000` truncates exactly
        # like DuckDB's ns→us read does.
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000"))
        )
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Tolerate the TIMESTAMP(NANOS)-era layout, which Spark 4 rejects by
        # default (PARQUET_TYPE_ILLEGAL) without nanosAsLong.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_event_time(df, "ts")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a rows-only check
    doc: str = ""


class Registry:
    def __init__(self) -> None:
        self._queries: dict[str, Query] = {}

    def register(self, name: str, oracle: str | None = None, doc: str = ""):
        def deco(fn):
            self._queries[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""))
            return fn

        return deco

    def queries(self) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
        return {q.name: q.fn for q in self._queries.values()}

    def oracles(self) -> dict[str, str]:
        return {
            q.name: q.oracle for q in self._queries.values() if q.oracle
        }

    def merge(self, *others: "Registry") -> "Registry":
        out = Registry()
        for reg in (self, *others):
            out._queries.update(reg._queries)
        return out
