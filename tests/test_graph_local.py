"""Both sides of the graph fixpoints' size gate (``ops.GRAPH_LOCAL_MAX``):
below it connected components, PageRank, the chain BFS and the DBSCAN
labeling run driver-side in numpy, above it as distributed loops. Forcing
the budget to 0 sends every non-empty graph down the distributed loop; the
two sides must give the same rows and the same schema, nullability
included (a Parquet output's schema is the frame's)."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_to_parquet_spark import ops

_GROUPS = itertools.count()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _both_sides(build):
    """(local, distributed) results of ``build()`` as (schema, rows)."""
    saved = ops.GRAPH_LOCAL_MAX
    local = build()
    local = (local.schema, _rows(local))
    try:
        ops.GRAPH_LOCAL_MAX = 0
        dist = build()
        dist = (dist.schema, _rows(dist))
    finally:
        ops.GRAPH_LOCAL_MAX = saved
    return local, dist


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    comps: dict[int, list[int]] = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    return sorted((x, min(m)) for m in comps.values() for x in m)


_SHAPES = {
    "duplicates": [(1, 2), (2, 1), (1, 2), (3, 3), (3, 3)],
    "long_chain": [(i + 1, i) for i in range(40)],
    "many_components": [(10 * k, 10 * k + j) for k in range(15) for j in (1, 2)],
    "star_and_cycle": [(0, i) for i in range(1, 8)]
    + [(20, 21), (21, 22), (22, 20)],
}


@pytest.mark.parametrize("nullable", [True, False], ids=["nullable", "not_null"])
@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_connected_components_sides_agree(spark, shape, nullable):
    schema = "a long, b long" if nullable else "a long not null, b long not null"
    edges = spark.createDataFrame(_SHAPES[shape], schema)
    local, dist = _both_sides(lambda: ops.connected_components(edges, "a", "b"))
    assert local == dist
    assert local[1] == _union_find(_SHAPES[shape])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=40
    )
)
def test_connected_components_random_graphs(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    local, dist = _both_sides(lambda: ops.connected_components(df, "a", "b"))
    assert local == dist
    assert local[1] == _union_find(edges)


def test_connected_components_empty(spark):
    """An empty edge list takes the local side at any budget >= 0 and
    gives an empty frame with the distributed schema."""
    edges = spark.createDataFrame([], "a long, b long")
    out = ops.connected_components(edges, "a", "b")
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"
    assert [f.nullable for f in out.schema] == [True, True]


def test_local_connected_components_is_one_job(spark):
    """Below the budget the fixpoint costs one bounded collect job, and
    the result is one partition (one output file)."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(_SHAPES["long_chain"], "a long, b long")
    group = f"graph-local-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = ops.connected_components(edges, "a", "b")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1
    assert out.rdd.getNumPartitions() == 1


def test_nulls_take_the_distributed_side(spark):
    """An edge list with a null id is not collected (its semantics are the
    distributed joins'), at any budget."""
    edges = spark.createDataFrame([(1, 2), (2, None)], "a long, b long")
    assert ops.collect_bounded(edges, "a", "b") is None


def test_cc_local_matches_union_find():
    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(1, 60))
        m = int(rng.integers(0, 90))
        u, v = rng.integers(0, n, m), rng.integers(0, n, m)
        node, comp = ops.cc_local(u, v)
        assert sorted(zip(node.tolist(), comp.tolist())) == _union_find(
            zip(u.tolist(), v.tolist())
        )


def test_bfs_levels_local_first_reach():
    # chain 1-2-...-9 plus a second seed 10 next to 5; 7 hops cap at 6
    u = np.array([1, 2, 3, 4, 5, 6, 7, 8, 10])
    v = np.array([2, 3, 4, 5, 6, 7, 8, 9, 5])
    node, level = ops.bfs_levels_local(np.array([1, 10, 11]), u, v, 6)
    assert dict(zip(node.tolist(), level.tolist())) == {
        1: 0, 10: 0, 11: 0, 2: 1, 5: 1, 3: 2, 4: 2, 6: 2, 7: 3, 8: 4, 9: 5,
    }


def test_dbscan_labels_sides_agree(spark):
    nodes = spark.createDataFrame([(i,) for i in range(14)], "id long")
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (3, 4), (5, 6),
             (7, 8), (7, 9), (7, 10), (8, 9), (8, 10), (9, 10), (10, 11),
             (12, 12), (20, 21)]
    edges = spark.createDataFrame(pairs, "u long, v long")
    local, dist = _both_sides(
        lambda: ops.dbscan_labels(nodes, "id", edges, "u", "v", 3)
    )
    assert local == dist
    roles = {r[0]: (r[1], r[2]) for r in local[1]}
    assert roles[0] == ("core", 0) and roles[7] == ("core", 7)
    assert roles[4] == ("border", 0) and roles[11] == ("border", 7)
    assert roles[5] == ("noise", -1) and roles[12] == ("noise", -1)
    assert roles[2] == ("border", 0) and roles[13] == ("noise", -1)


_QUERIES = [
    "dedup_connected_components",
    "dedup_keep_canonical",
    "neardup_cluster_purity",
    "neardup_graph_pagerank",
    "dedup_chain_depth_report",
    "dbscan_embedding_clusters",
]


@pytest.mark.parametrize("name", _QUERIES)
def test_graph_queries_sides_agree(spark, sf_dir, name):
    """Each graph query gives the same rows and schema on both sides. The
    CC label memo is cleared so each side computes its own labels."""
    import __spark_entry__

    from data_to_parquet_spark.operators.dedup import _cc_label_table

    query = __spark_entry__.queries()[name]

    def build():
        _cc_label_table.memo.clear()
        return query(spark, sf_dir)

    try:
        local, dist = _both_sides(build)
    finally:
        _cc_label_table.memo.clear()
    assert local[0].simpleString() == dist[0].simpleString()
    assert local == dist
    assert local[1]
