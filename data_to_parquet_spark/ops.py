"""Parametrized operator library — the user-facing API of the engine.

The driver-contract queries in :mod:`.operators` pin these operators to the
test corpus (fixed tables, thresholds, oracles); this module exposes the same
algorithms over arbitrary DataFrames/columns. Each function documents its
shuffle shape — the property that decides whether it survives 100×.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window as W

from .functions.exprs import cosine_from, dot, exploded_rows, norm, tokens
from .operators.asof import asof_join

__all__ = [
    "exact_dedup",
    "neardup_jaccard",
    "neardup_jaccard_prefix",
    "neardup_jaccard_count",
    "neardup_containment_prefix",
    "df_ordered_signatures",
    "connected_components",
    "cosine_topk",
    "sessionize",
    "tumbling_agg",
    "asof_join",
    "minhash_candidates",
    "passage_dup_stats",
    "mask_pii",
    "semdedup",
    "cap_per_group",
    "incremental_neardup",
    "transition_matrix",
    "mad_outliers",
    "snapshot_diff",
    "clamped_fold",
    "lloyd_kmeans",
    "dbscan_labels",
]


def exact_dedup(
    df: DataFrame, cols: list[str], keep_by: str | None = None
) -> DataFrame:
    """Drop exact duplicates over ``cols``; if ``keep_by`` is given, the row
    with the smallest ``keep_by`` survives (deterministic keeper), else any.

    Shuffle shape: one hash aggregation on ``cols``.
    """
    if keep_by is None:
        return df.dropDuplicates(cols)
    w = W.partitionBy(*cols).orderBy(keep_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def neardup_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.9,
    salt: int = 16,
) -> DataFrame:
    """Pairs of near-duplicate rows by token-set Jaccard within blocks.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Shuffle shape: blocked self-join on (block, salt); the salt spreads
    low-cardinality blocks across `salt`× tasks; 64-bit token hashes keep the
    per-pair intersect cheap; a size-ratio prefilter skips hopeless pairs.
    """
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__block"),
        F.array_sort(
            F.array_distinct(
                F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
            )
        ).alias("__toks"),
    )
    spark = df.sparkSession
    a = tok.select(
        F.col("__id").alias("id_a"),
        F.col("__block").alias("__block_a"),
        F.col("__toks").alias("__toks_a"),
        F.pmod(F.xxhash64("__id"), F.lit(salt)).alias("__salt_a"),
    ).repartition(spark.sparkContext.defaultParallelism, "__salt_a", "id_a")
    b = tok.select(
        F.col("__id").alias("id_b"),
        F.col("__block").alias("__block_b"),
        F.col("__toks").alias("__toks_b"),
        F.explode(F.array(*[F.lit(i) for i in range(salt)])).alias("__salt_b"),
    )
    inter = F.size(F.array_intersect("__toks_a", "__toks_b"))
    union = F.size("__toks_a") + F.size("__toks_b") - inter
    jac = inter.cast("double") / union
    t = float(threshold)
    return (
        a.join(
            b,
            (F.col("__block_a") == F.col("__block_b"))
            & (F.col("__salt_a") == F.col("__salt_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.size("__toks_a").cast("double") >= t * F.size("__toks_b"))
            & (F.size("__toks_b").cast("double") >= t * F.size("__toks_a")),
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition an UNDER-partitioned input across the session's cores.

    A small parquet file scans as one partition (< maxPartitionBytes), which
    serializes every downstream CPU-heavy projection — tokenize/explode over
    a single-file corpus ran on ONE task (measured: the sf0.1 signature
    build dropped 4.8 s -> 1.1 s once spread). The shuffle moved is the raw
    input itself (cheap: it fit in one partition by definition). At scale
    the input already has >= parallelism partitions and this is an exact
    no-op — no shuffle appears in the 100 TB plan.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def df_ordered_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    block_col: str | None = None,
    elements: Column | None = None,
) -> DataFrame:
    """(__id, __block, __toks) signature table shared by the prefix-filter
    set joins: per row, the distinct 64-bit element hashes sorted by GLOBAL
    ascending document frequency (the canonical AllPairs ordering — every
    row's prefix is its rarest elements). Lazily localCheckpoint'ed, so
    callers that share one instance (the symmetric Jaccard join AND the
    asymmetric containment join run it over the identical corpus) pay the
    two building shuffles once.
    """
    blk = F.col(block_col) if block_col else F.lit(0)
    elems = elements if elements is not None else tokens(F.col(text_col))
    tok = spread_small_input(df).select(
        F.col(id_col).alias("__id"),
        blk.alias("__block"),
        F.array_distinct(
            F.transform(elems, lambda x: F.xxhash64(x))
        ).alias("__toks"),
    )
    flat = exploded_rows(tok, ["__id", "__block"], F.col("__toks"), "__tk")
    dfc = flat.groupBy("__tk").agg(F.count(F.lit(1)).alias("__df"))
    return (
        flat.join(dfc, "__tk")
        .groupBy("__id", "__block")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "__tk"))),
                lambda s: s["__tk"],
            ).alias("__toks")
        )
        .localCheckpoint(eager=False)  # one materialization, many consumers
    )


def neardup_jaccard_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    block_col: str | None = None,
    threshold: float = 0.9,
    elements: Column | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Pairs of near-duplicate rows by set Jaccard — exact prefix-filter
    (AllPairs/PPJoin) index join, the scale path.

    The compared sets default to the distinct word tokens of ``text_col``;
    pass ``elements`` (any expression yielding ``array<string>``, e.g. 3-word
    shingles) to run the same index join over a different set family, or
    ``signatures`` (a prebuilt :func:`df_ordered_signatures` table) to share
    the signature build with other set joins over the same corpus.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold;
    identical result set to :func:`neardup_jaccard` (the blocked all-pairs
    form), but candidates come from an inverted index over each row's
    ``|d| - ceil(t·|d|) + 1`` rarest elements (global df-ascending order), so
    cost scales with candidate pairs, not block². Use this when blocks are
    large or absent; ``block_col=None`` runs corpus-wide.
    """
    t = float(threshold)
    ordered = (
        signatures
        if signatures is not None
        else df_ordered_signatures(df, id_col, text_col, block_col, elements)
    )
    n = F.size("__toks")
    plen = (n - F.ceil(n * t) + 1).cast("int")
    prefix = ordered.select(
        "__id",
        "__block",
        n.alias("__sz"),
        F.posexplode(F.slice("__toks", F.lit(1), plen)).alias(
            "__pos", "__ptok"
        ),
    )
    a = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("__block").alias("__block_a"),
        F.col("__sz").alias("__sz_a"),
        F.col("__pos").alias("__pos_a"),
        F.col("__ptok").alias("__ptok_a"),
    )
    b = prefix.select(
        F.col("__id").alias("id_b"),
        F.col("__block").alias("__block_b"),
        F.col("__sz").alias("__sz_b"),
        F.col("__pos").alias("__pos_b"),
        F.col("__ptok").alias("__ptok_b"),
    )
    # PPJoin positional filter (Xiao et al.): for the FIRST common prefix
    # token of a true pair there is no shared element before it in either
    # set (both sets follow the same global df order, so common prefix
    # tokens appear in the same relative order on each side), hence
    # overlap <= 1 + min(remaining_a, remaining_b). A pair with J >= t
    # needs overlap >= ceil(t/(1+t)·(|a|+|b|)), and the bound is largest at
    # the first match — so every true pair survives via its first-match
    # row, while ~half the candidate rows fail the bound and never reach
    # the distinct/verify shuffle (measured 2.25M -> 1.07M at sf0.1).
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("__sz_a") + F.col("__sz_b")))
    ubound = F.lit(1) + F.least(
        F.col("__sz_a") - F.col("__pos_a") - F.lit(1),
        F.col("__sz_b") - F.col("__pos_b") - F.lit(1),
    )
    cand = (
        a.join(
            b,
            (F.col("__ptok_a") == F.col("__ptok_b"))
            & (F.col("__block_a") == F.col("__block_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("__sz_a").cast("double") >= t * F.col("__sz_b"))
            & (F.col("__sz_b").cast("double") >= t * F.col("__sz_a"))
            & (ubound >= alpha),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = ordered.select(F.col("__id").alias("id_a"), F.col("__toks").alias("__toks_a"))
    tb = ordered.select(F.col("__id").alias("id_b"), F.col("__toks").alias("__toks_b"))
    inter = F.size(F.array_intersect("__toks_a", "__toks_b"))
    union = F.size("__toks_a") + F.size("__toks_b") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


def neardup_jaccard_count(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    block_col: str | None = None,
    threshold: float = 0.2,
    elements: Column | None = None,
) -> DataFrame:
    """Pairs of near-duplicate rows by set Jaccard — exact posting-count
    intersection join, the LOW-threshold scale path.

    Same contract as :func:`neardup_jaccard_prefix` (returns (id_a, id_b,
    jaccard), id_a < id_b, jaccard >= threshold), different physical plan:
    per-element postings self-join + groupBy-count gives each pair's exact
    intersection size with no array columns, no df-ordering pass, and no
    separate verify join. Cost is Σ_element df² within a block/size window.

    Crossover: at high thresholds (≈0.7+) the prefix filter indexes only the
    ``1-t`` rarest fraction of each set and prunes most postings — use
    ``neardup_jaccard_prefix``. At low thresholds the prefix covers nearly
    the whole set (no pruning, plus array-verify overhead), while the
    posting join's size-ratio filter still applies — this form measured 5×
    faster at t=0.2. Both are exact; pick by threshold.
    """
    t = float(threshold)
    blk = F.col(block_col) if block_col else F.lit(0)
    elems = elements if elements is not None else tokens(F.col(text_col))
    tok = df.select(
        F.col(id_col).alias("__id"),
        blk.alias("__block"),
        F.array_distinct(
            F.transform(elems, lambda x: F.xxhash64(x))
        ).alias("__toks"),
    ).select("__id", "__block", F.size("__toks").alias("__sz"), "__toks")
    sized = exploded_rows(
        tok, ["__id", "__block", "__sz"], F.col("__toks"), "__h"
    )
    a = sized.select(
        F.col("__id").alias("id_a"),
        F.col("__block").alias("__block_a"),
        F.col("__sz").alias("__sz_a"),
        F.col("__h").alias("__ha"),
    )
    b = sized.select(
        F.col("__id").alias("id_b"),
        F.col("__block").alias("__block_b"),
        F.col("__sz").alias("__sz_b"),
        F.col("__h").alias("__hb"),
    )
    inter = (
        a.join(
            b,
            (F.col("__ha") == F.col("__hb"))
            & (F.col("__block_a") == F.col("__block_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("__sz_a").cast("double") >= t * F.col("__sz_b"))
            & (F.col("__sz_b").cast("double") >= t * F.col("__sz_a")),
        )
        .groupBy("id_a", "id_b", "__sz_a", "__sz_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    jac = F.col("__inter").cast("double") / (
        F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")
    )
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


def neardup_containment_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    block_col: str | None = None,
    threshold: float = 0.9,
    min_tokens: int = 1,
    max_jaccard: float | None = None,
    elements: Column | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup join: pairs where the SMALLER row's
    element set is covered ``>= threshold`` by the larger row's —
    ``|A ∩ B| / |A| >= t`` with ``|A| <= |B|`` (ties broken by id). This is
    the quote/subset detector symmetric Jaccard structurally misses: a
    paragraph pasted into a much longer page has tiny Jaccard but
    containment ≈ 1.

    Returns ``(id_inner, id_outer, containment, jaccard)``. ``min_tokens``
    drops trivially-contained tiny sets; ``max_jaccard`` (exclusive upper
    bound) excludes pairs the symmetric join already reports, leaving only
    the containment-specific findings.

    Physical shape (the asymmetric prefix-filter join, Xiao et al.): the
    probe (inner-candidate) side indexes only its ``|A| - ceil(t·|A|) + 1``
    globally-rarest elements — any pair with overlap ≥ ceil(t·|A|) must
    share one of them (pigeonhole) — while the index side posts ALL its
    elements, because the containing document is not required to share the
    probe's rare prefix within its own prefix. Candidate cost is
    Σ_{probe prefix tokens} df(token): prefix tokens are each probe's
    RAREST (global df-ascending order), so the big posting lists of common
    tokens are touched only by probes whose entire vocabulary is common.
    The PPJoin positional bound (overlap ≤ 1 + min(remaining_a,
    remaining_b) at the pair's first matching row, both sides sharing the
    global element order) prunes candidates before the distinct/verify
    shuffle, exactly as in :func:`neardup_jaccard_prefix`. Verification
    joins the two full (deduplicated, hashed) element arrays and computes
    exact containment/Jaccard. No cross join anywhere; at 100 TB the only
    wide shuffle keys on element hashes, whose probe-side frequency is
    bounded by the prefix-filter rarity ordering.
    """
    t = float(threshold)
    ordered = (
        signatures
        if signatures is not None
        else df_ordered_signatures(df, id_col, text_col, block_col, elements)
    )
    n = F.size("__toks")
    plen = (n - F.ceil(n * t) + 1).cast("int")
    probe = ordered.filter(n >= int(min_tokens)).select(
        F.col("__id").alias("id_inner"),
        F.col("__block").alias("__block_a"),
        n.alias("__sz_a"),
        F.posexplode(F.slice("__toks", F.lit(1), plen)).alias(
            "__pos_a", "__ptok_a"
        ),
    )
    index = ordered.select(
        F.col("__id").alias("id_outer"),
        F.col("__block").alias("__block_b"),
        n.alias("__sz_b"),
        F.posexplode("__toks").alias("__pos_b", "__ptok_b"),
    )
    # inner strictly needs overlap >= ceil(t·|A|) shared elements
    alpha = F.ceil(F.lit(t) * F.col("__sz_a"))
    ubound = F.lit(1) + F.least(
        F.col("__sz_a") - F.col("__pos_a") - F.lit(1),
        F.col("__sz_b") - F.col("__pos_b") - F.lit(1),
    )
    cand = (
        probe.join(
            index,
            (F.col("__ptok_a") == F.col("__ptok_b"))
            & (F.col("__block_a") == F.col("__block_b"))
            & (
                (F.col("__sz_a") < F.col("__sz_b"))
                | (
                    (F.col("__sz_a") == F.col("__sz_b"))
                    & (F.col("id_inner") < F.col("id_outer"))
                )
            )
            & (F.col("__sz_b") >= alpha)
            & (ubound >= alpha),
        )
        .select("id_inner", "id_outer")
        .distinct()
    )
    ta = ordered.select(
        F.col("__id").alias("id_inner"), F.col("__toks").alias("__toks_a")
    )
    tb = ordered.select(
        F.col("__id").alias("id_outer"), F.col("__toks").alias("__toks_b")
    )
    inter = F.size(F.array_intersect("__toks_a", "__toks_b"))
    cont = inter.cast("double") / F.size("__toks_a")
    jac = inter.cast("double") / (
        F.size("__toks_a") + F.size("__toks_b") - inter
    )
    out = (
        cand.join(ta, "id_inner")
        .join(tb, "id_outer")
        .select(
            "id_inner",
            "id_outer",
            cont.alias("containment"),
            jac.alias("jaccard"),
        )
        .filter(F.col("containment") >= t)
    )
    if max_jaccard is not None:
        out = out.filter(F.col("jaccard") < float(max_jaccard))
    return out


#: edge lists (and vertex sets) of at most this many rows run the graph
#: fixpoints (connected components, PageRank, BFS levels, DBSCAN labels)
#: driver-side in numpy: one bounded collect instead of Spark jobs per
#: round; larger graphs run the distributed loops (the
#: ``LLOYD_LOCAL_TRAIN_MAX`` pattern). Sized by measurement on a 4-core
#: host with random graphs: at 2^20 edges ``connected_components`` took
#: 4.8 s local (collect, numpy, frame back) against 24 s distributed, and
#: the driver's Python process peaked near 0.3 GB; at 2^14 edges 1.1 s
#: against 6.6 s.
GRAPH_LOCAL_MAX = 1 << 20


def collect_bounded(df: DataFrame, *cols: str) -> pa.Table | None:
    """``df``'s ``cols`` as one Arrow table if it has at most
    :data:`GRAPH_LOCAL_MAX` rows and no nulls, else None (the caller then
    takes its distributed path). One job: every partition stops after
    ``GRAPH_LOCAL_MAX + 1`` rows, so probing a huge input moves at most
    that many rows per partition."""
    t = df.select(*cols).limit(GRAPH_LOCAL_MAX + 1).toArrow()
    if t.num_rows > GRAPH_LOCAL_MAX or any(c.null_count for c in t.columns):
        return None
    return t


def local_frame(
    spark: SparkSession, columns: dict, schema: StructType
) -> DataFrame:
    """A one-partition frame over driver-side arrays with exactly
    ``schema`` (types and nullability), so a local result writes the same
    Parquet schema as the distributed plan it stands in for."""
    table = pa.table({f.name: columns[f.name] for f in schema.fields})
    return spark.createDataFrame(table, schema).coalesce(1)


def cc_local(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(node, component) arrays of the undirected graph ``u[i] - v[i]``,
    component = min node id. Min-label propagation over ``np.unique``
    indices (so the min index is the min id): each round every edge hooks
    the larger label of its ends to the smaller, then pointer jumping
    makes every label a root. It stops when no edge joins two labels; each
    label is then a node of its own component whose label is itself, so
    it is the component minimum."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    lab = np.arange(len(ids))
    while True:
        la, lb = lab[a], lab[b]
        if np.array_equal(la, lb):
            return ids, ids[lab]
        m = np.minimum(la, lb)
        np.minimum.at(lab, la, m)
        np.minimum.at(lab, lb, m)
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def pagerank_local(
    ids: np.ndarray,
    u: np.ndarray,
    v: np.ndarray,
    damping: float,
    iterations: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(deg, rank) of each vertex in ``ids`` (unique) for PageRank over the
    undirected edges ``u[i] - v[i]``: the arithmetic of
    ``neardup_graph_pagerank``'s distributed loop term for term (uniform
    start, ``base = (1 - d) / n``, the dangling closed form
    ``r_{k+1} = base + d * (n0 * r_k) / n``, rank = that literal plus
    ``d * contrib``). Contributions are summed in a different order, so
    ranks may differ from the loop's in trailing ulps."""
    n = len(ids)
    rank = np.full(n, 1.0 / n)
    nodes, inv = np.unique(np.concatenate([ids, u, v]), return_inverse=True)
    row, a, b = np.split(inv, [n, n + len(u)])
    # vertex index of each node, -1 for edge ends outside ``ids``
    vertex = np.full(len(nodes), -1)
    vertex[row] = np.arange(n)
    si = vertex[np.concatenate([a, b])]
    ti = vertex[np.concatenate([b, a])]
    deg = np.bincount(si[si >= 0], minlength=n)
    flow = (si >= 0) & (ti >= 0)
    si, ti = si[flow], ti[flow]
    per_edge_deg = deg[si]
    base = (1.0 - damping) / n
    n_dangling = int((deg == 0).sum())
    rank_dangling = 1.0 / n
    for _ in range(iterations):
        dangling = n_dangling * rank_dangling
        contrib = np.bincount(
            ti, weights=rank[si] / per_edge_deg, minlength=n
        )
        rank = (base + damping * dangling / n) + damping * contrib
        rank_dangling = base + damping * dangling / n
    return deg, rank


def bfs_levels_local(
    seeds: np.ndarray, u: np.ndarray, v: np.ndarray, max_hops: int
) -> tuple[np.ndarray, np.ndarray]:
    """(node, level) of every node within ``max_hops`` of a seed over the
    undirected edges ``u[i] - v[i]``; level = the hop of first reach (0 for
    the seeds)."""
    ids, inv = np.unique(np.concatenate([seeds, u, v]), return_inverse=True)
    s, a, b = np.split(inv, [len(seeds), len(seeds) + len(u)])
    src, dst = np.concatenate([a, b]), np.concatenate([b, a])
    level = np.full(len(ids), -1, dtype=np.int32)
    frontier = np.unique(s)
    level[frontier] = 0
    for k in range(1, max_hops + 1):
        on = np.zeros(len(ids), dtype=bool)
        on[frontier] = True
        nxt = np.unique(dst[on[src]])
        frontier = nxt[level[nxt] < 0]
        level[frontier] = k
    reached = level >= 0
    return ids[reached], level[reached]


def dbscan_local(
    ids: np.ndarray,
    u: np.ndarray,
    v: np.ndarray,
    min_neighbors: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(role, cluster_id) for each of ``ids`` over the undirected
    eps-neighborhood edges ``u[i] - v[i]``: :func:`dbscan_labels`'
    rules (degree counts both directions of every edge row, clusters are
    the core-core components labelled by their min id, a border takes the
    min cluster among its core neighbors, noise gets -1)."""
    nodes, inv = np.unique(np.concatenate([ids, u, v]), return_inverse=True)
    n = len(nodes)
    row, a, b = np.split(inv, [len(ids), len(ids) + len(u)])
    src, dst = np.concatenate([a, b]), np.concatenate([b, a])
    core = np.bincount(src, minlength=n) >= min_neighbors
    cluster = np.arange(n)
    inner = core[src] & core[dst]
    member, label = cc_local(src[inner], dst[inner])
    cluster[member] = label
    border = np.full(n, n)  # index n: the -1 appended to nodes below
    edge = core[dst] & ~core[src]
    np.minimum.at(border, src[edge], cluster[dst[edge]])
    pick = np.where(core, cluster, border)[row]
    role = np.where(core[row], "core", np.where(pick < n, "border", "noise"))
    return role, np.append(nodes, -1)[pick]


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list: returns
    (node, component) with component = min node id of the component.

    Edge lists of at most :data:`GRAPH_LOCAL_MAX` rows (and no nulls) are
    collected in one bounded job and solved by :func:`cc_local`; the result
    comes back as one single-partition frame with the distributed path's
    schema. ``max_iterations`` bounds only the distributed loop.

    Larger edge lists run edge-contraction min-label rounds: each round
    rewrites the working edge list through the current labels
    (intra-cluster edges become self-loops and vanish → the graph shrinks
    geometrically), every representative adopts its smallest contracted
    neighbor, and a pointer-jump keeps member labels from drifting behind
    migrated representatives. Contracted edges can still drift from member
    labels, so when the working set contracts to empty the loop
    re-contracts the ORIGINAL edge set and only exits when that is empty
    too — exit ⇔ labels are the components, and min-only adoption pins
    them to the component minimum.

    One materializing action per round (the eager checkpoint of the
    contracted edge list; ``isEmpty`` on the checkpointed result is free).
    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iterations`` rounds — silently returning drifted labels would
    corrupt downstream keep/drop decisions.
    """
    und = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    local = collect_bounded(edges, src, dst)
    if local is not None:
        node, component = cc_local(
            local.column(0).to_numpy(), local.column(1).to_numpy()
        )
        f = und.schema["u"]
        return local_frame(
            edges.sparkSession,
            {"node": node, "component": component},
            StructType().add("node", f.dataType, f.nullable)
            .add("component", f.dataType, f.nullable),
        )
    und = und.localCheckpoint(eager=True)
    labels = (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("__mn"))
        .select("node", F.least("node", "__mn").alias("component"))
        .localCheckpoint(eager=False)
    )

    def _contract(es, lbl):
        la = lbl.select(F.col("node").alias("u"), F.col("component").alias("__cu"))
        lb = lbl.select(F.col("node").alias("v"), F.col("component").alias("__cv"))
        return (
            es.join(la, "u")
            .join(lb, "v")
            .select(F.col("__cu").alias("u"), F.col("__cv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)  # the round's one materialization
        )

    work = und
    for _ in range(max_iterations):
        contracted = _contract(work, labels)
        if contracted.isEmpty():
            # working set exhausted — verify against the ORIGINAL edges
            # (contracted-space labels can drift behind member labels);
            # surviving violations feed the same update step below, so
            # every round with any violation makes label progress
            contracted = _contract(und, labels)
            if contracted.isEmpty():
                return labels
        work = contracted
        m = contracted.groupBy(F.col("u").alias("component")).agg(
            F.min("v").alias("__mn")
        )
        labels = labels.join(m, "component", "left").select(
            "node",
            F.least(
                "component", F.coalesce("__mn", "component")
            ).alias("component"),
        )
        rep = labels.select(
            F.col("node").alias("component"),
            F.col("component").alias("__rep"),
        )
        labels = (
            labels.join(rep, "component", "left")
            .select(
                "node",
                F.coalesce("__rep", "component").alias("component"),
            )
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors of each query vector over the corpus.

    Returns (query_id, neighbor_id, cos_sim, rank). Queries are broadcast;
    norms are precomputed per vector. The top-k runs in two window stages:
    a salted pre-top-k over (query, hash(neighbor) % 32) — 32·|queries|
    reduce keys instead of |queries|, so no handful of reducer tasks
    swallows the whole corpus — then the exact global top-k over the ≤
    32·k survivors per query. The survivor set provably contains the
    global top-k (same total order), so results are identical to a single
    window.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_from(
            dot(F.col("__qv"), F.col("__v")), F.col("__qn"), F.col("__n")
        ).alias("cos_sim"),
    )
    order = (F.desc("cos_sim"), "neighbor_id")
    wpre = W.partitionBy("query_id", "__salt").orderBy(*order)
    pre = (
        scored.withColumn("__salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(32)))
        .withColumn("__r", F.row_number().over(wpre))
        .filter(F.col("__r") <= k)
        .drop("__salt", "__r")
    )
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Attach a per-key ``session_id`` (gap-based): a new session starts when
    the gap from the previous event exceeds ``gap_minutes``.

    One shuffle on the key; two window passes per key partition.
    """
    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    w = W.partitionBy(key_col).orderBy(*order)
    # the running sum MUST use the same total order as the lag window, or
    # rows with duplicate timestamps get nondeterministic session ids
    wrun = (
        W.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # compare gaps at microsecond precision (unix_timestamp truncates to
    # whole seconds, which can misclassify gaps that straddle the threshold
    # by a sub-second fraction)
    flagged = df.withColumn(
        "__new",
        F.when(
            F.unix_micros(ts_col) - F.unix_micros(F.lag(ts_col).over(w))
            <= gap_minutes * 60 * 1_000_000,
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    return flagged.withColumn("session_id", F.sum("__new").over(wrun)).drop(
        "__new"
    )


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    group_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Tumbling event-time window aggregate (batch form; the streaming form
    is the same groupBy over readStream — see streaming/windows.py)."""
    return df.groupBy(
        F.window(ts_col, width).alias("window"), *group_cols
    ).agg(*aggs)


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_width: int = 3,
    est_threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs over arbitrary columns.

    Returns (id_a, id_b, est_jaccard) where est_jaccard is the matching-
    minhash fraction. Shuffle shape: one groupBy for signatures, one
    band-bucket equi-join for candidates — sub-quadratic end to end.

    Zero-token rows emit no shingles and drop out of the signature table
    (an empty-string shingle would pair every empty row with every other at
    est_jaccard 1.0); rows with fewer than ``shingle_width`` tokens keep
    their single partial shingle.
    """
    rows_per_band = num_hashes // bands
    prime = (1 << 31) - 1  # Kirsch-Mitzenmacher double-hash modulus
    toks = tokens(F.col(text_col))
    shingled = exploded_rows(
        df.select(F.col(id_col).alias("__id"), toks.alias("__toks")),
        ["__id"],
        F.expr(
            f"transform("
            f" slice(sequence(1, greatest(size(__toks) - {shingle_width - 1}, 1)),"
            f"       1, if(size(__toks) = 0, 0,"
            f"             greatest(size(__toks) - {shingle_width - 1}, 1))),"
            f" i -> array_join(slice(__toks, i, {shingle_width}), ' '))"
        ),
        "__shingle",
    )
    hashed = shingled.select(
        "__id",
        F.pmod(F.xxhash64("__shingle"), F.lit(prime)).alias("__h1"),
        F.pmod(F.xxhash64("__shingle", F.lit(1)), F.lit(prime)).alias("__h2"),
    )
    mins = [
        F.min(
            F.pmod(F.col("__h1") + F.lit(i) * F.col("__h2"), F.lit(prime))
        ).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    sig = (
        hashed.groupBy("__id")
        .agg(*mins)
        .select(
            "__id",
            F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("__sig"),
        )
        .cache()
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col("__sig")[b * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    bb = sig.select(
        "__id", F.explode(F.array(*band_cols)).alias("__bb")
    ).select("__id", "__bb.band", "__bb.bucket")
    cand = (
        bb.alias("x")
        .join(
            bb.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(F.col("x.__id").alias("id_a"), F.col("y.__id").alias("id_b"))
        .distinct()
    )
    est = (
        cand.join(
            sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa")),
            "id_a",
        )
        .join(
            sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("__sa", "__sb", lambda p, q: p == q),
                        lambda eq: eq,
                    )
                ).cast("double")
                / F.lit(num_hashes)
            ).alias("est_jaccard"),
        )
    )
    return est.filter(F.col("est_jaccard") >= est_threshold)


def passage_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    passage_tokens: int = 32,
    stride: int | None = None,
) -> DataFrame:
    """Per-document passage-duplication stats: chunk each text into fixed
    ``passage_tokens``-token passages and report how much of the document
    consists of passages that also occur in at least one OTHER document.

    ``stride`` defaults to ``passage_tokens`` (non-overlapping chunks,
    partial tail chunk included — the RefinedWeb shape). ``stride=1`` turns
    it into the SLIDING window form (full windows only, docs shorter than
    the window drop out): "does ANY ``passage_tokens``-token span of this
    doc appear elsewhere" — the suffix-array-style substring-dedup signal
    (Lee et al., Deduplicating Training Data) that chunk alignment cannot
    miss by straddling a boundary.

    Returns (id, n_passages, n_dup_passages, dup_frac). Shuffle shape: two
    aggregations and one equi-join, all keyed on the passage text —
    high-cardinality, skew-free. At 100 TB substitute ``xxhash64(passage)``
    for the passage key to shrink shuffle width; sliding windows multiply
    rows by ~window/stride, so wide scans prefer stride > 1.
    """
    w = int(passage_tokens)
    st = w if stride is None else int(stride)
    if st == w:
        passages = F.expr(
            f"transform(sequence(1, size(__t), {w}),"
            f" i -> array_join(slice(__t, i, {w}), ' '))"
        )
        base = df.select(
            F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__t")
        ).filter(F.size("__t") > 0)
    else:
        passages = F.expr(
            f"transform(sequence(1, size(__t) - {w - 1}, {st}),"
            f" i -> array_join(slice(__t, i, {w}), ' '))"
        )
        base = df.select(
            F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__t")
        ).filter(F.size("__t") >= w)
    pas = exploded_rows(
        base,
        ["__id"],
        passages,
        "__passage",
    )
    per_doc = pas.groupBy("__id", "__passage").agg(F.count(F.lit(1)).alias("__m"))
    pdf = per_doc.groupBy("__passage").agg(F.count(F.lit(1)).alias("__docs"))
    dup_m = F.sum(
        F.when(F.col("__docs") >= 2, F.col("__m")).otherwise(F.lit(0))
    )
    return (
        per_doc.join(pdf, "__passage")
        .groupBy("__id")
        .agg(
            F.sum("__m").alias("n_passages"),
            dup_m.alias("n_dup_passages"),
            (dup_m.cast("double") / F.sum("__m")).alias("dup_frac"),
        )
        .withColumnRenamed("__id", id_col)
    )


#: default PII patterns: name -> (Java/RE2-compatible regex, mask token)
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "emails": (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
    "phones": (r"\+\d+-\d+-\d+", "[PHONE]"),
    "ipv4s": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
}


def mask_pii(
    df: DataFrame,
    text_col: str,
    out_col: str = "masked",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Count and mask machine-recognizable identifiers in ``text_col``.

    Adds one ``n_<name>`` match-count column per pattern plus ``out_col``
    with every match replaced by its mask token (patterns applied in dict
    order). Each pattern is counted against the *progressively masked*
    string — the same text it is then replaced in — so overlapping
    patterns (e.g. an ipv4 regex that would match digits inside an
    already-masked phone) yield counts consistent with the final output.
    Pure per-row JVM regexp work — no shuffle, stays inside whole-stage
    codegen; the cheapest pipeline stage per byte at 100 TB.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    out = df
    masked = F.col(text_col)
    for name, (regex, token) in pats.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(masked, F.lit(regex), F.lit(0))),
        )
        masked = F.regexp_replace(masked, regex, token)
    return out.withColumn(out_col, masked)


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = 16,
    tau: float = 0.35,
    sample_n: int = 2048,
    seed: int = 42,
    cell_target: int = 256,
    num_salts: int = 8,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDedup-style semantic dedup over an embedding column: k-means cells
    (Lloyd on a bounded driver-side sample, or caller-supplied
    ``centroids`` — e.g. from :func:`lloyd_centroids` when the cells must
    be deterministic/oracle-replayable) + within-cell greedy keep-first
    prune — drop a row iff a lower-id row in the same cell has cosine >=
    ``tau``. Returns (id, cell, keep).

    ``k=None`` sizes the cell count from the corpus (one ``df.count()``
    job): ``k = clamp(n / cell_target, 16, sample_n // 4)``, so cells stay
    ~``cell_target`` rows and the quadratic within-cell term is bounded as
    the corpus grows. At 100 TB you'd also raise ``sample_n`` (the Lloyd
    trainer needs a few samples per cell).

    Shuffle shape: cell assignment is one map-side Pandas-UDF pass
    (centroids are broadcast constants); the candidate self-join shuffles
    on ``(cell, salt(id) % num_salts)`` — the right side picks a
    deterministic salt, the left side is replicated ``num_salts`` ways — so
    a hot cell fans out over ``num_salts`` reduce keys instead of
    serializing on one, and the pair set is unchanged (each (a, b) meets in
    exactly one bucket).

    Note: sampling (and ``k=None`` sizing) runs eager Spark jobs at
    query-construction time — this operator plans with data, like AQE.
    """
    if centroids is None:
        if k is None:
            n = df.count()
            k = max(16, min(-(-n // cell_target), max(16, sample_n // 4)))
        # md5(id)-ordered sample: deterministic across partitionings,
        # unlike a bare limit() whose row order is scan-order-dependent
        sample = np.vstack(
            [
                r[vec_col]
                for r in df.select(id_col, vec_col)
                .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")))
                .limit(sample_n)
                .collect()
            ]
        ).astype("float64")
        if len(sample) == 0:
            raise ValueError(
                "semdedup: input has no rows to sample centroids from"
            )
        k = min(k, len(sample))
        rng = np.random.default_rng(seed)
        centroids = sample[rng.choice(len(sample), size=k, replace=False)]
        for _ in range(5):  # Lloyd iterations on the sample
            d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = sample[assign == c]
                if len(members):
                    centroids[c] = members.mean(axis=0)

    @F.pandas_udf("int")
    def nearest_cell(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy()).astype("float64")
        d2 = (
            (m ** 2).sum(axis=1, keepdims=True)
            - 2 * m @ centroids.T
            + (centroids ** 2).sum(axis=1)[None, :]
        )
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    # checkpointed: three consumers (both self-join sides and the final
    # keep-join) otherwise each re-scan the input AND re-run the Python
    # cell-assignment UDF — the most expensive pass in the operator
    indexed = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        norm(F.col(vec_col)).alias("__nrm"),
        nearest_cell(vec_col).alias("cell"),
    ).localCheckpoint(eager=False)
    s = int(max(1, num_salts))
    a = indexed.select(
        F.col("__id").alias("__ida"),
        F.col("cell").alias("__cella"),
        F.col("__vec").alias("__veca"),
        F.col("__nrm").alias("__nrma"),
    ).withColumn(
        "__salta", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    )
    b = indexed.select(
        F.col("__id").alias("__idb"),
        F.col("cell").alias("__cellb"),
        F.col("__vec").alias("__vecb"),
        F.col("__nrm").alias("__nrmb"),
    ).withColumn("__saltb", F.pmod(F.xxhash64("__idb"), F.lit(s)).cast("int"))
    drops = (
        a.join(
            b,
            (F.col("__cella") == F.col("__cellb"))
            & (F.col("__salta") == F.col("__saltb"))
            & (F.col("__ida") < F.col("__idb")),
        )
        .filter(
            cosine_from(
                dot(F.col("__veca"), F.col("__vecb")),
                F.col("__nrma"),
                F.col("__nrmb"),
            )
            >= float(tau)
        )
        .select(F.col("__idb").alias("__id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        indexed.join(drops, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "cell",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_cols: list[str | Column] | None = None,
    hash_cols: list[str] | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per ``group_col`` value, in a deterministic
    order — the "no group may dominate" sampling/cap rule.

    Order precedence: explicit ``order_cols``; else a content-hash order
    over ``hash_cols`` (md5 of their concatenation — engine-portable and
    unbiased by insertion order).

    Shuffle shape: one shuffle on the group key + a per-group top-N
    (row_number window). Skewed groups sort only their own partitioned
    slice; the window needs each partition's n smallest keys only.
    """
    if order_cols is None:
        if not hash_cols:
            raise ValueError("need order_cols or hash_cols")
        order_cols = [
            F.md5(F.concat_ws("\x1f", *[F.col(c) for c in hash_cols]))
        ] + [F.col(c) for c in hash_cols]
    w = W.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def incremental_neardup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    elements_col: str,
    block_col: str | None = None,
    threshold: float = 0.9,
) -> DataFrame:
    """Match an incoming batch against an already-deduplicated corpus:
    emit (new_id, corpus_id, jaccard) for every pair whose element-set
    Jaccard ≥ ``threshold``. Neither side is compared with itself — the
    steady-state ingest shape, where the corpus never re-dedups.

    Scale: the batch (assumed ≪ corpus — an ingest window) is broadcast,
    so the corpus streams past with no shuffle; ``block_col`` (e.g. lang)
    bounds comparisons per corpus row. For large batches, swap in the
    prefix-filter index join (`neardup_jaccard_prefix`) on the unioned
    frame and post-filter to cross-side pairs.
    """
    # compare 64-bit element hashes, not raw elements: array_intersect over
    # longs is far cheaper than over strings, and set cardinalities are
    # preserved (same practice as the neardup_jaccard_* family, whose
    # hashed jaccards value-match the raw-string DuckDB oracles)
    hashed = lambda c: F.array_distinct(  # noqa: E731
        F.transform(F.col(c), lambda x: F.xxhash64(x))
    )
    left = new_df.select(
        F.col(id_col).alias("new_id"),
        *( [F.col(block_col).alias("__nb")] if block_col else [] ),
        hashed(elements_col).alias("__ne"),
    )
    right = corpus_df.select(
        F.col(id_col).alias("corpus_id"),
        *( [F.col(block_col).alias("__cb")] if block_col else [] ),
        hashed(elements_col).alias("__ce"),
    )
    t = float(threshold)
    # size-ratio prefilter: jaccard >= t forces t·|B| <= |A| <= |B|/t, so
    # hopeless pairs skip the array intersect entirely (evaluated first —
    # two int compares vs an O(|A|+|B|) set op)
    ratio = (
        (F.size("__ne").cast("double") >= t * F.size("__ce"))
        & (F.size("__ce").cast("double") >= t * F.size("__ne"))
    )
    cond = (
        (F.col("__nb") == F.col("__cb")) & ratio if block_col else ratio
    )
    inter = F.size(F.array_intersect("__ne", "__ce"))
    union = F.size("__ne") + F.size("__ce") - inter
    jac = inter.cast("double") / union
    return (
        right.join(F.broadcast(left), cond)
        .select("new_id", "corpus_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


def transition_matrix(
    df: DataFrame, key: str, order_by: list[str], state: str
) -> DataFrame:
    """First-order Markov transition counts + conditional probabilities
    over per-``key`` sequences of ``state``, ordered by ``order_by``
    (include a unique tiebreaker for determinism).

    Returns (prev_state, next_state, n, prob). Shuffle shape: one
    exchange on ``key`` for the lag window, then a map-side-combined
    aggregate bounded by |states|²; the probability window runs over that
    tiny table. Generic form of ``event_transition_matrix``.
    """
    w = W.partitionBy(key).orderBy(*order_by)
    pairs = (
        df.select(
            F.lag(state).over(w).alias("prev_state"),
            F.col(state).alias("next_state"),
        )
        .filter(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "next_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = W.partitionBy("prev_state")
    return pairs.select(
        "prev_state",
        "next_state",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp)).alias("prob"),
    )


def mad_outliers(
    df: DataFrame, group: str, value: str, k: float = 3.0
) -> DataFrame:
    """Rows whose ``value`` deviates more than ``k`` MADs from their
    group's median — robust outlier flagging (median/MAD don't move when
    the outliers get extreme; mean/stddev do).

    Shuffle shape: two map-side-combined aggregates over |groups| (exact
    medians need the extra pass) with the tiny stats table broadcast
    back; the returned frame is the input plus ``is_outlier``. Generic
    form of ``mad_outlier_events``.
    """
    med = df.groupBy(group).agg(F.median(value).alias("__med"))
    mad = (
        df.join(F.broadcast(med), group)
        .groupBy(group, "__med")
        .agg(F.median(F.abs(F.col(value) - F.col("__med"))).alias("__mad"))
    )
    return (
        df.join(F.broadcast(mad), group)
        .withColumn(
            "is_outlier",
            F.abs(F.col(value) - F.col("__med")) > k * F.col("__mad"),
        )
        .drop("__med", "__mad")
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare: list[str]
) -> DataFrame:
    """Row-level changeset between two table versions: one full-outer
    join on ``key``, classifying added / removed / changed over the
    ``compare`` columns (null-safe). Unchanged rows are filtered before
    anything materializes — the overwhelming majority at scale.

    Shuffle shape: one exchange per side on ``key`` (none if both sides
    are bucketed on it). Generic form of ``snapshot_diff_customers``.
    """
    a = old.select(
        F.col(key).alias("__ak"),
        *[F.col(c).alias(f"old_{c}") for c in compare],
    )
    b = new.select(
        F.col(key).alias("__bk"),
        *[F.col(c).alias(f"new_{c}") for c in compare],
    )
    changed = None
    for c in compare:
        neq = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        changed = neq if changed is None else (changed | neq)
    return (
        a.join(b, F.col("__ak") == F.col("__bk"), "full_outer")
        .filter(
            F.col("__ak").isNull() | F.col("__bk").isNull() | changed
        )
        .select(
            F.coalesce(F.col("__ak"), F.col("__bk")).alias(key),
            F.when(F.col("__ak").isNull(), "added")
            .when(F.col("__bk").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
            *[F.col(f"old_{c}") for c in compare],
            *[F.col(f"new_{c}") for c in compare],
        )
    )


def clamped_fold(
    df: DataFrame,
    key: str,
    order_by: list[str],
    delta: str,
    floor: int = 0,
) -> DataFrame:
    """Per-key sequential fold ``bal = max(bal + delta, floor)`` in
    ``order_by`` order — the clamped recurrence (inventory with
    stockouts, prepaid credit). Each step depends on the previous
    CLAMPED value; the closed form is the prefix-sum identity
    final = max(C_N, floor + C_N − min(C_1..C_N)) with C = cumsum(delta)
    (brute-force-verified over 100k random cases incl. negative floors),
    which the kernel uses to stay vectorized; see
    ``cusum_changepoint_daily`` for the floor-0 special case as pure SQL.

    Returns (key, n_rows, final_value). Shuffle shape: one exchange on
    ``key``, then Arrow-batched per-key kernels. Generic form of
    ``clamped_running_balance``.
    """

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by)
        # closed form: max(C_N, floor + C_N - min C)  (start bal = 0)
        c = (pdf[delta].to_numpy()).cumsum()
        bal = max(int(c[-1]), floor + int(c[-1]) - int(c.min()))
        return pd.DataFrame(
            {
                key: [pdf[key].iloc[0]],
                "n_rows": [len(pdf)],
                "final_value": [bal],
            }
        )

    key_type = dict(df.dtypes)[key]
    return df.groupBy(key).applyInPandas(
        fold, f"{key} {key_type}, n_rows long, final_value long"
    )


#: corpora at or below this row count train Lloyd centroids driver-side in
#: one collect + numpy (identical arithmetic: k-lowest-id init, lowest-
#: index argmin, empty clusters keep their centroid) instead of paying
#: ~6 Spark jobs of iteration latency; larger corpora use the distributed
#: loop. This is the standard adaptive pattern for coarse-quantizer
#: training — faiss-style local training when the sample fits a driver
#: budget, the O(k*d)-shuffle distributed loop when it doesn't.
LLOYD_LOCAL_TRAIN_MAX = 65536


def lloyd_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 5,
    local_max: int | None = None,
    sample_by_hash: bool = False,
) -> tuple[np.ndarray, DataFrame]:
    """Lloyd training loop shared by ``lloyd_kmeans`` and the IVF/semdedup
    coarse quantizers: returns the final (k', d) float64 centroid array
    (k' < k when the corpus has fewer than k vectors — initial centroids
    are the vectors of the k lowest ids) plus the repartitioned,
    lazily-checkpointed ``(__id, __v)`` corpus frame so callers can assign
    against the exact training input without re-reading the source.

    Corpora of at most ``local_max`` rows (default
    :data:`LLOYD_LOCAL_TRAIN_MAX`) train driver-side: one CollectLimit job
    fetches the vectors (early-exits after local_max+1 rows, so probing a
    100 TB corpus costs ~one partition read before falling back) and numpy
    runs the same deterministic iteration. Beyond that, the distributed
    shape per iteration (see lloyd_kmeans's docstring for the full scale
    analysis): broadcast k×d constant in a vectorized Pandas UDF for
    assignment, explode-to-(cluster, dim) + map-side-combined groupBy sum
    for the update — the shuffle and the driver transfer carry O(k·d)
    data, never the corpus. Both paths implement identical arithmetic
    (k-lowest-id init, lowest-index argmin ties, empty clusters keep
    their centroid); they differ only in summation order, the ulp class
    the value oracles already tolerate (guarded by
    tests/test_assignment_margins.py).

    ``sample_by_hash=True`` changes the ABOVE-budget semantics from
    full-corpus training to bounded-sample training — the scale-right
    choice for a COARSE QUANTIZER (IVF/semdedup cells), where centroids
    from a representative sample are as good as full-corpus ones and a
    100 TB corpus should not be scanned once per iteration: the sample is
    the ``local_max`` rows with the lowest ``md5(id)`` (content-
    independent pseudo-random, deterministic, and — because both engines
    have md5 — exactly replayable by a SQL oracle if one is ever needed
    above budget), fetched with a single per-partition top-N scan, then
    trained driver-side. At or below budget the sample is the whole
    corpus, so results are bit-identical to ``sample_by_hash=False``
    there — which is why the full-corpus DuckDB oracles remain exact at
    every driver-checked sf. Full-corpus clustering semantics
    (lloyd_kmeans) keep the default and use the distributed loop above
    budget. Caller must guarantee ``df`` is non-empty.
    """
    spark = df.sparkSession
    budget = LLOYD_LOCAL_TRAIN_MAX if local_max is None else local_max
    # Probe the branch with ids only — never the vector column: collecting
    # budget+1 FULL rows just to discover the corpus is over budget moved
    # multi-hundred-MB of wide embeddings to the driver and discarded them
    # (ADVICE r7). The id-only limit still early-exits after budget+1 rows,
    # so probing a 100 TB corpus costs ~one partition read, and as an Arrow
    # fetch it is one job (a CollectLimit ``.collect()`` runs two).
    # Deliberate trade: an at-or-under-budget corpus pays this (id-only,
    # column-pruned) job before the full fetch — tens of ms on the small
    # corpora that take this branch, vs the unbounded wide-row transfer
    # the probe avoids on the corpora that don't.
    n_probe = df.select(id_col).limit(budget + 1).toArrow().num_rows
    if n_probe <= budget:
        head = df.select(id_col, vec_col).limit(budget + 1).collect()
    elif sample_by_hash:
        head = (
            df.select(id_col, vec_col)
            .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")))
            .limit(budget)
            .collect()
        )
    else:
        head = None  # over budget, full-corpus semantics → distributed loop
    if head is not None:
        head.sort(key=lambda r: r[0])
        mat = np.vstack([r[1] for r in head]).astype("float64")
        centroids = mat[:k].copy()  # k lowest ids; shrinks if fewer rows
        k = centroids.shape[0]
        for _ in range(int(iterations)):
            d2 = (
                (mat**2).sum(axis=1, keepdims=True)
                - 2 * mat @ centroids.T
                + (centroids**2).sum(axis=1)[None, :]
            )
            assign = d2.argmin(axis=1)
            centroids = centroids.copy()
            for c in range(k):
                members = mat[assign == c]
                if len(members):
                    centroids[c] = members.mean(axis=0)
        vecs = df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
        ).localCheckpoint(eager=False)
        return centroids, vecs

    init = df.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = np.vstack([r[0] for r in init]).astype("float64")
    k, dim = centroids.shape  # fewer rows than k -> shrink

    def make_nearest(cts):
        @F.pandas_udf("int")
        def nearest(emb: pd.Series) -> pd.Series:
            m = np.vstack(emb.to_numpy()).astype("float64")
            d2 = (
                (m**2).sum(axis=1, keepdims=True)
                - 2 * m @ cts.T
                + (cts**2).sum(axis=1)[None, :]
            )
            return pd.Series(d2.argmin(axis=1).astype("int32"))

        return nearest

    # Size iteration parallelism from the scan's partition count (free —
    # no job) instead of a count() job: each input split is ≤
    # maxPartitionBytes of vectors, so 2x input splits gives the Python
    # stage headroom while tiny inputs stay at 4 tasks instead of paying
    # defaultParallelism-task overhead every iteration. Same asymptotics
    # as the old row-count sizing (cluster-wide cap at scale), one fewer
    # driver job per training run.
    nparts = max(
        4,
        min(
            spark.sparkContext.defaultParallelism,
            df.rdd.getNumPartitions() * 2,
        ),
    )
    vecs = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .repartition(nparts)
        .localCheckpoint(eager=False)
    )
    for _ in range(int(iterations)):
        assigned = vecs.select(
            "__v", make_nearest(centroids)("__v").alias("cluster")
        )
        parts = (
            exploded_rows(
                assigned.select(
                    "cluster",
                    F.expr(
                        "zip_with(__v, sequence(0, size(__v) - 1),"
                        " (x, i) -> struct(i AS d, CAST(x AS DOUBLE) AS x))"
                    ).alias("__z"),
                ),
                ["cluster"],
                F.col("__z"),
                "__e",
            )
            .select("cluster", F.col("__e.d").alias("dim"), F.col("__e.x").alias("val"))
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype="int64")
        for r in parts:
            sums[r["cluster"], r["dim"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        nonzero = counts > 0
        centroids = centroids.copy()
        centroids[nonzero] = sums[nonzero] / counts[nonzero, None]
    return centroids, vecs


def lloyd_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 5,
) -> DataFrame:
    """Fully-distributed Lloyd's k-means over an arbitrary vector column.

    Returns one row per input row: ``(id_col, cluster, d2, centroid_norm)``
    — the nearest final centroid, the squared distance to it, and that
    centroid's norm. Deterministic: initial centroids are the vectors of
    the ``k`` lowest ids; ties in assignment break toward the lowest
    cluster index (np.argmin).

    Distributed shape per iteration (what MLlib's k-means reduces to):
    centroids are a broadcast k×d constant inside a vectorized Pandas UDF
    (one matmul per Arrow batch); the update is one explode-to-(cluster,
    dim, val) + groupBy(cluster, dim) sum/count with map-side combine, so
    the shuffle carries k·d·partitions partial rows — independent of
    corpus size — and only the k×d centroid table ever reaches the
    driver. Iteration parallelism is sized from the scan's partition
    count (2x input splits, cluster-wide cap, 4-task floor) so tiny
    inputs don't pay 32-task overhead five times while a billion-vector
    corpus still spreads cluster-wide.
    """
    first = df.select(vec_col).first()
    if first is None:
        return df.select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("d2"),
            F.lit(None).cast("double").alias("centroid_norm"),
        )
    centroids, vecs = lloyd_centroids(df, id_col, vec_col, k, iterations)
    k = centroids.shape[0]
    cts = centroids

    @F.pandas_udf("struct<cluster:int, d2:double>")
    def final_assign(emb: pd.Series) -> pd.DataFrame:
        m = np.vstack(emb.to_numpy()).astype("float64")
        d2 = (
            (m**2).sum(axis=1, keepdims=True)
            - 2 * m @ cts.T
            + (cts**2).sum(axis=1)[None, :]
        )
        a = d2.argmin(axis=1)
        return pd.DataFrame(
            {
                "cluster": a.astype("int32"),
                "d2": np.maximum(d2[np.arange(len(a)), a], 0.0),
            }
        )

    norms = [
        round(float(np.sqrt((centroids[c] ** 2).sum())), 6) for c in range(k)
    ]
    norm_expr = F.element_at(
        F.array(*[F.lit(v) for v in norms]), F.col("cluster") + 1
    )
    return (
        vecs.select("__id", final_assign("__v").alias("__r"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__r.cluster").alias("cluster"),
            F.col("__r.d2").alias("d2"),
        )
        .withColumn("centroid_norm", norm_expr)
    )


def dbscan_labels(
    nodes: DataFrame,
    id_col: str,
    edges: DataFrame,
    src: str,
    dst: str,
    min_neighbors: int = 3,
) -> DataFrame:
    """DBSCAN roles and cluster labels from a precomputed eps-neighborhood
    edge list (undirected, one row per unordered pair): core points have
    ``>= min_neighbors`` neighbors, clusters are connected components of
    the core-core subgraph (label = min member id), non-core points
    adjacent to a cluster become borders (min cluster id when several),
    everything else is noise.

    Returns ``(id_col, role, cluster_id)`` with role ∈ {core, border,
    noise} and cluster_id = -1 for noise. How the eps-graph is built is
    the caller's choice — exact threshold join, LSH candidates
    (`neardup_jaccard_prefix`, the sign-LSH bucketing), whatever the
    modality needs; at scale the graph build is the only part that
    touches all pairs.

    Below :data:`GRAPH_LOCAL_MAX` edges and nodes the whole labeling runs
    driver-side (:func:`dbscan_local`) and returns one single-partition
    frame with the distributed schema. Above it the labeling adds one
    degree aggregation, the `connected_components` fixpoint on the core
    subgraph, and two bounded joins.
    """
    local = collect_bounded(edges, src, dst)
    ids = collect_bounded(nodes, id_col) if local is not None else None
    if ids is not None:
        role, cluster_id = dbscan_local(
            ids.column(0).to_numpy(),
            local.column(0).to_numpy(),
            local.column(1).to_numpy(),
            int(min_neighbors),
        )
        ctype = edges.select(F.coalesce(src, dst, F.lit(-1))).schema[0]
        return local_frame(
            nodes.sparkSession,
            {id_col: ids.column(0).to_numpy(), "role": role,
             "cluster_id": cluster_id},
            StructType([nodes.schema[id_col]])
            .add("role", "string", False)
            .add("cluster_id", ctype.dataType, False),
        )
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    core = deg.filter(F.col("deg") >= int(min_neighbors)).select(
        F.col("u").alias("__nid")
    )
    ca = core.select(F.col("__nid").alias("u"))
    cb = core.select(F.col("__nid").alias("v"))
    core_edges = und.join(ca, "u").join(cb, "v")
    labels = connected_components(core_edges, "u", "v").select(
        F.col("node").alias("__nid"), F.col("component").alias("cluster_id")
    )
    lone = core.join(labels, "__nid", "left_anti").select(
        "__nid", F.col("__nid").alias("cluster_id")
    )
    labels = labels.unionByName(lone).localCheckpoint(eager=False)
    border = (
        und.join(labels.withColumnRenamed("__nid", "v"), "v")
        .join(core.withColumnRenamed("__nid", "u"), "u", "left_anti")
        .groupBy("u")
        .agg(F.min("cluster_id").alias("b_cluster"))
        .withColumnRenamed("u", "__nid")
    )
    return (
        nodes.select(F.col(id_col).alias("__nid"))
        .join(
            labels.withColumnRenamed("cluster_id", "l_cluster"),
            "__nid",
            "left",
        )
        .join(border, "__nid", "left")
        .select(
            F.col("__nid").alias(id_col),
            F.when(F.col("l_cluster").isNotNull(), F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("l_cluster", "b_cluster", F.lit(-1)).alias(
                "cluster_id"
            ),
        )
    )
