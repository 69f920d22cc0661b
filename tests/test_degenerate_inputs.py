"""Degenerate-input guards from the round-5 advisor review: shapes the
shipped test corpus happens to avoid but a regenerated corpus can produce.

- `neardup_cluster_modularity` on a corpus with ZERO near-dup pairs must
  return an explicit zero-edge row (NULL Q), not ZeroDivisionError on the
  driver (`operators/dedup.py`).
- `kaplan_meier_view_to_purchase` when a duration bucket exhausts the risk
  set (d == n_at_risk, e.g. the max-duration subject converts) must emit
  survival 0.0 from that bucket on, not a silently-skipped NULL ln(0) term
  (`operators/events.py`); the DuckDB oracle must not crash on ln(0) either.
"""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def unique_docs_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("nodups")
    # pairwise-disjoint token sets -> Jaccard 0 for every pair
    docs = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [f"tok{i}a tok{i}b tok{i}c" for i in range(8)],
            "lang": ["en"] * 4 + ["de"] * 4,
            "source": ["s0"] * 8,
            "n_chars": [17] * 8,
        }
    )
    docs.to_parquet(root / "documents.parquet")
    return str(root)


def test_modularity_empty_graph_returns_sentinel_row(spark, unique_docs_dir):
    from data_to_parquet_spark.operators.dedup import (
        neardup_cluster_modularity,
    )

    rows = neardup_cluster_modularity(spark, unique_docs_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_edges"] == 0
    assert r["n_intra_edges"] == 0
    assert r["n_clusters_with_edges"] == 0
    assert r["modularity"] is None


@pytest.fixture(scope="module")
def exhausting_events_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("kmzero")
    t0 = datetime.datetime(2024, 1, 1)

    def ev(i, uid, kind, days):
        return {
            "event_id": i,
            "ts": t0 + datetime.timedelta(days=days),
            "user_id": uid,
            "event_type": kind,
            "value": 1.0,
            "props": "{}",
        }

    events = [
        # user 1: converts at day 1 (d=1 of n=3 at risk)
        ev(0, 1, "view", 0),
        ev(1, 1, "purchase", 1),
        # user 2: censored at day 2 (c=1 of n=2 at risk)
        ev(2, 2, "view", 0),
        ev(3, 2, "click", 2),
        # user 3: converts at day 5 — the LAST subject at risk converts,
        # so d == n_at_risk == 1 and the hazard factor is ln(0)
        ev(4, 3, "view", 0),
        ev(5, 3, "purchase", 5),
    ]
    pd.DataFrame(events).to_parquet(root / "events.parquet")
    return str(root)


def test_km_exhausted_risk_set_survival_zero(spark, exhausting_events_dir):
    from data_to_parquet_spark.operators.events import (
        kaplan_meier_view_to_purchase,
    )
    import __spark_entry__ as entry_mod

    got = {
        r["duration_days"]: r
        for r in kaplan_meier_view_to_purchase(
            spark, exhausting_events_dir
        ).collect()
    }
    assert got[1]["survival"] == pytest.approx(2.0 / 3.0, abs=1e-6)
    assert got[5]["n_at_risk"] == 1 and got[5]["d_events"] == 1
    assert got[5]["survival"] == 0.0

    # the oracle must agree AND not raise DuckDB's ln(0) Out of Range
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{exhausting_events_dir}/events.parquet'"
    )
    sql = entry_mod.oracle_sql()["kaplan_meier_view_to_purchase"]
    oracle = {
        row[0]: row
        for row in con.execute(sql).fetchall()
    }
    con.close()
    assert oracle[5][4] == 0.0
    assert oracle[1][4] == pytest.approx(got[1]["survival"], abs=1e-9)


@pytest.fixture(scope="module")
def duplicate_init_embeddings_dir(tmp_path_factory):
    """vec 0 and vec 1 are IDENTICAL, so the k=8 lowest-id init creates two
    equal centroids. Iteration 1 assigns both duplicates (tie -> lowest
    index) AND point 8 to cluster 0, leaving cluster 1 EMPTY — the
    keep-previous-centroid branch runs on BOTH engines. Because cluster 1
    kept [0,0,0,1] exactly, iteration 2 pulls the two duplicates back (d2
    0 beats the dragged cluster-0 mean); had either engine zeroed or
    dropped the empty centroid, the final partition would differ."""
    root = tmp_path_factory.mktemp("kmempty")
    base = [
        [0.0, 0.0, 0.0, 1.0],
        [0.0, 0.0, 0.0, 1.0],  # identical to vec 0
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [1.0, 1.0, 0.0, 0.0],
        [1.0, 0.0, 1.0, 0.0],
        [0.0, 1.0, 1.0, 0.0],
        [0.25, 0.0, 0.0, 0.75],
        [0.8, 0.1, 0.0, 0.0],
    ]
    emb = pd.DataFrame(
        {
            "vec_id": range(len(base)),
            "embedding": base,
            "label": [0] * len(base),
        }
    )
    emb.to_parquet(root / "embeddings.parquet")
    return str(root)


def test_kmeans_empty_cluster_keeps_centroid_and_oracle_agrees(
    spark, duplicate_init_embeddings_dir
):
    from data_to_parquet_spark.operators.similarity import (
        kmeans_embedding_clusters,
    )
    import __spark_entry__ as entry_mod

    got = {
        r["cluster"]: r
        for r in kmeans_embedding_clusters(
            spark, duplicate_init_embeddings_dir
        ).collect()
    }
    # cluster 1 emptied in iteration 1 and kept its exact init centroid,
    # so it recaptured both duplicate points; the kept [0,0,0,1] is also
    # their mean, hence inertia 0 and norm 1
    assert got[1]["n_members"] == 2
    assert got[1]["inertia"] == 0.0
    assert got[1]["centroid_norm"] == pytest.approx(1.0, abs=1e-9)
    assert sum(r["n_members"] for r in got.values()) == 10

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{duplicate_init_embeddings_dir}/embeddings.parquet'"
    )
    sql = entry_mod.oracle_sql()["kmeans_embedding_clusters"]
    oracle = {row[0]: row for row in con.execute(sql).fetchall()}
    con.close()
    assert sorted(oracle) == sorted(got)
    for c, r in got.items():
        o = oracle[c]
        assert o[1] == r["n_members"], (c, o, tuple(r))
        assert o[2] == pytest.approx(r["inertia"], abs=1e-9)
        assert o[3] == pytest.approx(r["centroid_norm"], abs=1e-9)


@pytest.fixture(scope="module")
def nonpositive_group_events_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("gmzero")
    t0 = datetime.datetime(2024, 1, 1)
    events = pd.DataFrame(
        {
            "event_id": range(4),
            "ts": [t0 + datetime.timedelta(hours=i) for i in range(4)],
            "user_id": [1, 1, 2, 2],
            "event_type": ["zeroed", "zeroed", "view", "view"],
            # one group with NO positive values, one normal group
            "value": [0.0, 0.0, 2.0, 8.0],
            "props": ["{}"] * 4,
        }
    )
    events.to_parquet(root / "events.parquet")
    return str(root)


def test_geometric_mean_all_nonpositive_group_is_null(
    spark, nonpositive_group_events_dir
):
    """A group whose every value is <= 0 must yield NULL from BOTH the
    pandas-UDAF leg and the algebraic leg (np.log([]).mean() would yield
    NaN + a RuntimeWarning and desync the legs), and the oracle must not
    raise DuckDB's eager ln(0) Out of Range (the sf0.1 incident class)."""
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.events import udaf_geometric_mean

    got = {
        r["event_type"]: r
        for r in udaf_geometric_mean(
            spark, nonpositive_group_events_dir
        ).collect()
    }
    assert got["zeroed"]["geo_mean_udaf"] is None
    assert got["zeroed"]["geo_mean_algebraic"] is None
    assert got["zeroed"]["n_events"] == 2
    assert got["view"]["geo_mean_udaf"] == pytest.approx(4.0, abs=1e-6)
    assert got["view"]["geo_mean_algebraic"] == pytest.approx(4.0, abs=1e-6)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{nonpositive_group_events_dir}/events.parquet'"
    )
    sql = entry_mod.oracle_sql()["udaf_geometric_mean"]
    oracle = {row[0]: row for row in con.execute(sql).fetchall()}
    con.close()
    assert oracle["zeroed"][1] is None and oracle["zeroed"][2] is None
    assert oracle["view"][1] == pytest.approx(4.0, abs=1e-6)


# ---------------------------------------------------------------------------
# Round-7 ANSI-division guards: Spark 4's ANSI mode raises DIVIDE_BY_ZERO
# even for doubles, so any statistic whose denominator can reach exact zero
# on degenerate data was a latent Spark-side CRASH (DuckDB quietly NULLs
# the division but raises on sqrt(negative)/ln(0)). Each test below builds
# the zero-denominator shape and pins NULL from BOTH engines.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def same_ts_events_dir(tmp_path_factory):
    """User 1: three events on ONE timestamp (all gaps zero -> mu = sigma
    = 0). User 2: a normal spread."""
    root = tmp_path_factory.mktemp("burst0")
    t0 = datetime.datetime(2024, 1, 1)
    events = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": [t0, t0, t0]
            + [t0 + datetime.timedelta(minutes=m) for m in (0, 10, 40)],
            "user_id": [1, 1, 1, 2, 2, 2],
            "event_type": ["view"] * 6,
            "value": [1.0] * 6,
            "props": ["{}"] * 6,
        }
    )
    events.to_parquet(root / "events.parquet")
    return str(root)


def _oracle_rows(table_dir: str, table: str, sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM '{table_dir}/{table}.parquet'"
    )
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def test_burstiness_all_zero_gaps_is_null(spark, same_ts_events_dir):
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.events import (
        interarrival_burstiness_users,
    )

    got = {
        r["user_id"]: r
        for r in interarrival_burstiness_users(
            spark, same_ts_events_dir
        ).collect()
    }
    assert got[1]["n_gaps"] == 2
    assert got[1]["mean_gap_s"] == 0.0
    assert got[1]["burstiness"] is None  # 0/0 -> NULL, not DIVIDE_BY_ZERO
    assert got[2]["burstiness"] is not None

    oracle = {
        row[0]: row
        for row in _oracle_rows(
            same_ts_events_dir,
            "events",
            entry_mod.oracle_sql()["interarrival_burstiness_users"],
        )
    }
    assert oracle[1][3] is None and oracle[2][3] is not None


@pytest.fixture(scope="module")
def constant_hourly_events_dir(tmp_path_factory):
    """Type 'flat': exactly 2 events in each of 3 hours (zero variance).
    Type 'spiky': 1,1,1,1,1,1,1,30 across 8 hours (a >=2-sigma hour)."""
    root = tmp_path_factory.mktemp("zvar")
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    i = 0
    for h in range(3):
        for _ in range(2):
            rows.append((i, t0 + datetime.timedelta(hours=h), 1, "flat"))
            i += 1
    for h in range(8):
        n = 30 if h == 7 else 1
        for _ in range(n):
            rows.append((i, t0 + datetime.timedelta(hours=h), 2, "spiky"))
            i += 1
    events = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type"]
    )
    events["value"] = 1.0
    events["props"] = "{}"
    events.to_parquet(root / "events.parquet")
    return str(root)


def test_zscores_zero_variance_type_emits_no_rows(
    spark, constant_hourly_events_dir
):
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.events import hourly_anomaly_zscores

    got = hourly_anomaly_zscores(spark, constant_hourly_events_dir).collect()
    types = {r["event_type"] for r in got}
    assert "flat" not in types  # nothing deviates, and no crash
    assert "spiky" in types

    oracle = _oracle_rows(
        constant_hourly_events_dir,
        "events",
        entry_mod.oracle_sql()["hourly_anomaly_zscores"],
    )
    assert {row[0] for row in oracle} == {"spiky"}


@pytest.fixture(scope="module")
def no_conversion_events_dir(tmp_path_factory):
    """Nobody reaches the 14-purchase conversion bar -> pooled rate 0."""
    root = tmp_path_factory.mktemp("noconv")
    t0 = datetime.datetime(2024, 1, 1)
    events = pd.DataFrame(
        {
            "event_id": range(4),
            "ts": [t0 + datetime.timedelta(hours=i) for i in range(4)],
            "user_id": [1, 1, 2, 2],  # one user per arm (parity split)
            "event_type": ["view", "purchase", "view", "click"],
            "value": [1.0] * 4,
            "props": ["{}"] * 4,
        }
    )
    events.to_parquet(root / "events.parquet")
    return str(root)


def test_ztest_zero_pooled_rate_is_null(spark, no_conversion_events_dir):
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.events import ab_conversion_ztest

    row = ab_conversion_ztest(spark, no_conversion_events_dir).collect()[0]
    assert row["x_a"] == 0 and row["x_b"] == 0
    assert row["p_a"] == 0.0 and row["p_b"] == 0.0
    assert row["z_score"] is None  # zero pooled variance -> NULL, no crash

    orc = _oracle_rows(
        no_conversion_events_dir,
        "events",
        entry_mod.oracle_sql()["ab_conversion_ztest"],
    )[0]
    assert orc[6] is None


@pytest.fixture(scope="module")
def single_subject_events_dir(tmp_path_factory):
    """ONE subject total (view then purchase): at its event day the whole
    risk set is that subject (n1 + n2 = 1), so the hypergeometric
    variance term is zero by the n > 1 branch."""
    root = tmp_path_factory.mktemp("lone")
    t0 = datetime.datetime(2024, 1, 1)
    events = pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": [t0, t0 + datetime.timedelta(days=2)],
            "user_id": [1, 1],
            "event_type": ["view", "purchase"],
            "value": [1.0, 1.0],
            "props": ["{}", "{}"],
        }
    )
    events.to_parquet(root / "events.parquet")
    return str(root)


def test_logrank_single_subject_z_is_null(spark, single_subject_events_dir):
    """A lone subject makes every hypergeometric variance term zero ->
    z NULL on both engines, not a division by zero."""
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.events import logrank_test_by_arm

    row = logrank_test_by_arm(spark, single_subject_events_dir).collect()[0]
    assert row["variance"] == 0.0
    assert row["z_score"] is None

    orc = _oracle_rows(
        single_subject_events_dir,
        "events",
        entry_mod.oracle_sql()["logrank_test_by_arm"],
    )[0]
    assert orc[3] == 0.0 and orc[4] is None


@pytest.fixture(scope="module")
def constant_column_lineitem_dir(tmp_path_factory):
    """l_tax is CONSTANT -> zero variance -> every pair with l_tax has an
    undefined Pearson r."""
    root = tmp_path_factory.mktemp("zcorr")
    li = pd.DataFrame(
        {
            "l_orderkey": range(8),
            "l_partkey": [1] * 8,
            "l_suppkey": [1] * 8,
            "l_linenumber": [1] * 8,
            "l_quantity": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0],
            "l_extendedprice": [10.0, 21.0, 29.0, 42.0, 48.0, 63.0, 68.0, 84.0],
            "l_discount": [0.01, 0.02, 0.01, 0.03, 0.02, 0.04, 0.01, 0.05],
            "l_tax": [0.08] * 8,
            "l_returnflag": ["N"] * 8,
            "l_linestatus": ["O"] * 8,
            "l_shipdate": [datetime.datetime(2024, 1, 1)] * 8,
        }
    )
    li.to_parquet(root / "lineitem.parquet")
    return str(root)


def test_correlation_constant_column_is_null(
    spark, constant_column_lineitem_dir
):
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.relational import (
        correlation_matrix_lineitem,
    )

    got = {
        (r["col_x"], r["col_y"]): r["pearson_r"]
        for r in correlation_matrix_lineitem(
            spark, constant_column_lineitem_dir
        ).collect()
    }
    for (a, b), r in got.items():
        if "l_tax" in (a, b):
            assert r is None, (a, b, r)
        else:
            assert r is not None, (a, b)
    assert got[("l_quantity", "l_extendedprice")] == pytest.approx(
        0.998, abs=5e-3
    )

    oracle = {
        (row[0], row[1]): row[3]
        for row in _oracle_rows(
            constant_column_lineitem_dir,
            "lineitem",
            entry_mod.oracle_sql()["correlation_matrix_lineitem"],
        )
    }
    assert oracle == got


@pytest.fixture(scope="module")
def isolated_pairs_docs_dir(tmp_path_factory):
    """Every duplicate cluster is an isolated PAIR -> a 1-regular graph
    (all degrees equal) -> zero degree variance."""
    root = tmp_path_factory.mktemp("regular")
    texts = []
    for i in range(3):
        base = " ".join(f"w{i}x{j}" for j in range(12))
        texts += [base, base]  # identical twins: J = 1.0, cross-pair J = 0
    docs = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": texts,
            "lang": ["en"] * 6,
            "source": ["s0"] * 6,
            "n_chars": [len(t) for t in texts],
        }
    )
    docs.to_parquet(root / "documents.parquet")
    return str(root)


def test_assortativity_regular_graph_is_null(spark, isolated_pairs_docs_dir):
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators import dedup

    dedup._doc_signatures.memo.clear()
    dedup.neardup_jaccard_pairs.memo.clear()
    try:
        row = dedup.neardup_graph_assortativity(
            spark, isolated_pairs_docs_dir
        ).collect()[0]
    finally:
        dedup._doc_signatures.memo.clear()
        dedup.neardup_jaccard_pairs.memo.clear()
    assert row["n_directed_edges"] == 6  # 3 pairs, both orientations
    assert row["assortativity"] is None

    orc = _oracle_rows(
        isolated_pairs_docs_dir,
        "documents",
        entry_mod.oracle_sql()["neardup_graph_assortativity"],
    )[0]
    assert orc[0] == 6 and orc[1] is None


@pytest.fixture(scope="module")
def single_term_docs_dir(tmp_path_factory):
    """The whole corpus is ONE distinct term -> one Zipf rank -> zero
    x-variance for the log-log regression."""
    root = tmp_path_factory.mktemp("oneterm")
    docs = pd.DataFrame(
        {
            "doc_id": range(3),
            "text": ["spam spam spam", "spam", "spam spam"],
            "lang": ["en"] * 3,
            "source": ["s0"] * 3,
            "n_chars": [14, 4, 9],
        }
    )
    docs.to_parquet(root / "documents.parquet")
    return str(root)


def test_zipf_single_rank_is_null(spark, single_term_docs_dir):
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.text import corpus_zipf_stats

    row = corpus_zipf_stats(spark, single_term_docs_dir).collect()[0]
    assert row["n_terms"] == 1
    assert row["slope"] is None and row["intercept"] is None

    orc = _oracle_rows(
        single_term_docs_dir,
        "documents",
        entry_mod.oracle_sql()["corpus_zipf_stats"],
    )[0]
    assert orc == (1, None, None)


@pytest.fixture(scope="module")
def one_period_orders_dir(tmp_path_factory):
    """Every order falls AFTER the KS split date -> the reference period
    is empty and its ECDF undefined."""
    root = tmp_path_factory.mktemp("oneperiod")
    orders = pd.DataFrame(
        {
            "o_orderkey": range(4),
            "o_custkey": [1, 2, 1, 2],
            "o_orderstatus": ["F"] * 4,
            "o_totalprice": [100.0, 250.0, 175.0, 310.0],
            "o_orderdate": [datetime.datetime(1999, 3, 1 + i) for i in range(4)],
            "o_orderpriority": ["1-URGENT"] * 4,
        }
    )
    # Spark 4 rejects pandas' default TIMESTAMP(NANOS) outside the events
    # table (load_table only sets nanosAsLong there)
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    orders.to_parquet(root / "orders.parquet")
    return str(root)


def test_ks_empty_reference_period_is_null(spark, one_period_orders_dir):
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.events import ks_test_order_periods

    row = ks_test_order_periods(spark, one_period_orders_dir).collect()[0]
    assert row["n_ref"] == 0 and row["n_cur"] == 4
    assert row["ks_d"] is None

    orc = _oracle_rows(
        one_period_orders_dir,
        "orders",
        entry_mod.oracle_sql()["ks_test_order_periods"],
    )[0]
    assert orc == (0, 4, None)


@pytest.fixture(scope="module")
def zero_vector_embeddings_dir(tmp_path_factory):
    """vec 5 is the ALL-ZERO vector: its cosine against anything is 0/0.
    Spark ANSI raised DIVIDE_BY_ZERO; DuckDB's division yields NULL, which
    fails every >= threshold verify and ranks below any real similarity —
    the cosine_from guard gives Spark the same semantics."""
    root = tmp_path_factory.mktemp("zerovec")

    def unit(i, eps_at=None):
        # 64-dim (the sign-LSH bucketing indexes dims 1..64): axis vector
        # with an optional small off-axis component
        v = [0.0] * 64
        v[i] = 1.0
        if eps_at is not None:
            v[eps_at] = 0.2
        return v

    base = [
        unit(0),
        unit(0, eps_at=9),  # cos with vec 0 ≈ 0.98 — a sure pair
        unit(16),
        unit(16, eps_at=25),
        unit(32),
        [0.0] * 64,  # zero vector
        unit(48, eps_at=57),
        unit(48),
    ]
    emb = pd.DataFrame(
        {
            "vec_id": range(len(base)),
            "embedding": base,
            "label": [0] * len(base),
        }
    )
    emb.to_parquet(root / "embeddings.parquet")
    return str(root)


def test_zero_vector_corpus_matches_oracle(spark, zero_vector_embeddings_dir):
    """Brute-force top-k and the eps-graph must run (no DIVIDE_BY_ZERO)
    and hash-match the oracle row-for-row on a corpus with a zero vector."""
    import __spark_entry__ as entry_mod
    from data_to_parquet_spark.operators.similarity import (
        embedding_neardup_pairs,
        similarity_topk_bruteforce,
    )

    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(
            spark, zero_vector_embeddings_dir
        ).collect()
    }
    assert all(5 not in p for p in pairs)  # zero vector pairs with nothing
    orc_pairs = {
        (row[0], row[1])
        for row in _oracle_rows(
            zero_vector_embeddings_dir,
            "embeddings",
            entry_mod.oracle_sql()["embedding_neardup_pairs"],
        )
    }
    assert pairs == orc_pairs and len(pairs) > 0

    topk = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in similarity_topk_bruteforce(
            spark, zero_vector_embeddings_dir
        ).collect()
    }
    orc = {
        (row[0], row[3]): (row[1], row[2])
        for row in _oracle_rows(
            zero_vector_embeddings_dir,
            "embeddings",
            entry_mod.oracle_sql()["similarity_topk_bruteforce"],
        )
    }
    assert set(topk) == set(orc)
    for k, (nbr, cos) in topk.items():
        onbr, ocos = orc[k]
        assert nbr == onbr, (k, topk[k], orc[k])
        if cos is None or ocos is None:
            assert cos is None and ocos is None
        else:
            assert cos == pytest.approx(ocos, abs=1e-12)
