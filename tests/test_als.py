"""Pins for `als_one_sweep_factors`: the distributed user-solve /
item-solve sweep must match a dense numpy ALS replication with identical
init (md5 uniforms), per-user accumulation order (item-sorted), and ridge
regularization (lambda scaled by rating count)."""

from __future__ import annotations

import numpy as np

from data_to_parquet_spark.operators.similarity import (
    _ALS_RANK,
    _ALS_REG,
    _als_item_init,
    als_one_sweep_factors,
)


def _dense_als(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    # replicate the query's count_distinct(o_orderkey) exactly via a
    # pre-distinct (plain count over lineitem rows would differ)
    rows = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(p, p["p_partkey"] == li["l_partkey"])
        .select("o_custkey", "p_brand", "o_orderkey")
        .distinct()
        .groupBy("o_custkey", "p_brand")
        .count()
        .collect()
    )
    brands = sorted({r["p_brand"] for r in rows})
    b_idx = {b: i for i, b in enumerate(brands)}
    ratings = {}
    for r in rows:
        ratings.setdefault(r["o_custkey"], []).append(
            (b_idx[r["p_brand"]], float(r["count"]))
        )
    d = _ALS_RANK
    y = _als_item_init(len(brands))
    xs = {}
    for u, obs in ratings.items():
        obs = sorted(obs)
        items = np.array([i for i, _ in obs])
        rs = np.array([v for _, v in obs])
        yi = y[items]
        a = yi.T @ yi + _ALS_REG * len(obs) * np.eye(d)
        xs[u] = np.linalg.solve(a, yi.T @ rs)
    grams = np.zeros((len(brands), d, d))
    rhs = np.zeros((len(brands), d))
    counts = np.zeros(len(brands), dtype=int)
    for u, obs in ratings.items():
        for i, v in obs:
            grams[i] += np.outer(xs[u], xs[u])
            rhs[i] += xs[u] * v
            counts[i] += 1
    y_new = np.zeros_like(y)
    for i in range(len(brands)):
        y_new[i] = np.linalg.solve(
            grams[i] + _ALS_REG * counts[i] * np.eye(d), rhs[i]
        )
    sse = n = 0.0
    for u, obs in ratings.items():
        for i, v in obs:
            e = v - xs[u] @ y_new[i]
            sse += e * e
            n += 1
    return brands, counts, y_new, float(np.sqrt(sse / n))


def test_als_matches_numpy(spark, sf_dir):
    brands, counts, y_new, rmse = _dense_als(spark, sf_dir)
    got = {r["brand"]: r for r in als_one_sweep_factors(spark, sf_dir).collect()}
    assert sorted(got) == brands
    for i, b in enumerate(brands):
        assert got[b]["n_raters"] == int(counts[i])
        expect_norm = float(np.sqrt((y_new[i] ** 2).sum()))
        assert abs(got[b]["factor_norm"] - expect_norm) < 1e-4, (
            b,
            got[b]["factor_norm"],
            expect_norm,
        )
        assert abs(got[b]["global_rmse"] - rmse) < 1e-4


def test_als_model_beats_mean_baseline(spark, sf_dir):
    # the one-sweep model must reconstruct observed ratings better than
    # predicting the global mean rating everywhere — a sanity floor that
    # the factors actually fit the data
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    rows = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(p, p["p_partkey"] == li["l_partkey"])
        .select("o_custkey", "p_brand", "o_orderkey")
        .distinct()
        .groupBy("o_custkey", "p_brand")
        .count()
        .collect()
    )
    vals = np.array([float(r["count"]) for r in rows])
    baseline_rmse = float(np.sqrt(((vals - vals.mean()) ** 2).mean()))
    got = als_one_sweep_factors(spark, sf_dir).first()
    assert got["global_rmse"] < baseline_rmse


def test_convergence_report_buckets_have_margin(spark, sf_dir):
    """Early warning for the round-10 driver envelope
    (`als_convergence_report`): its buckets ship as pre-verified TRUE
    oracle literals, so assert they hold with REAL margin at the test
    sf before the driver hashes them."""
    from data_to_parquet_spark.operators.similarity import (
        als_convergence_report,
    )

    row = als_convergence_report(spark, sf_dir).first()
    assert row["model_beats_baseline"] is True
    assert row["factor_norms_bounded"] is True
    assert row["n_ratings"] > 0
    assert row["sum_r"] >= row["n_ratings"]  # counts are >= 1 per cell
    assert row["baseline_rmse"] > 0


def test_als_sweep_memoized_within_session(spark, sf_dir):
    """r10 ADVICE: als_convergence_report used to re-run the entire
    sweep that als_one_sweep_factors had just executed. The shared
    `_als_sweep` is now session-memoized, so the second consumer must get
    the SAME tuple object back (the memo's stale-generation and
    unreadable-table handling is pinned in tests/test_session_memo.py)."""
    from data_to_parquet_spark.operators import similarity as sim

    sim._als_sweep.memo.clear()
    first = sim._als_sweep(spark, sf_dir)
    second = sim._als_sweep(spark, sf_dir)
    assert first is second
    assert len(sim._als_sweep.memo) == 1
    sim._als_sweep.memo.clear()
