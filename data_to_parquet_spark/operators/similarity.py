"""Similarity search over the ``embeddings`` table: brute-force cosine top-k
(the exactness baseline) and sign-bit-LSH / IVF / PQ approximate indexes
(the scale paths), plus embedding-cosine near-dup pairs.

Float discipline for oracle parity: embeddings are ``array<float>``; every
element is cast to DOUBLE before arithmetic (exact), and dot products are
sequential left-folds so DuckDB's ``list_reduce`` over the same element order
produces bit-identical doubles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.exprs import (
    cosine,
    cosine_from,
    dot,
    exploded_rows_pos,
    norm,
)
from .base import Registry, load_table, session_memo

SIM = Registry()


@session_memo("embeddings")
def _corpus_centroids(spark, sf_dir: str, k: int, iterations: int):
    """Final Lloyd centroid ndarray, session-memoized per (k, iterations).
    Lloyd training is deterministic, so queries sharing a quantizer
    (similarity_ann_ivf and semdedup_prune both train k=16 x 5 iterations)
    reuse one training run per session instead of each paying ~8 Spark
    jobs."""
    from ..ops import lloyd_centroids

    e = load_table(spark, sf_dir, "embeddings")
    # coarse-quantizer semantics: bounded-sample training above the
    # local budget (one scan at 100 TB), whole corpus below it — so
    # the full-corpus oracles stay exact at every driver-checked sf
    centroids, _ = lloyd_centroids(
        e,
        "vec_id",
        "embedding",
        k=k,
        iterations=iterations,
        sample_by_hash=True,
    )
    return centroids


_N_QUERIES = 5  # query set = vec_id < 5
_TOP_K = 10

# Sign-bit LSH for near-dup blocking: T tables x K axis-aligned hyperplanes
# (bit j of table t = sign of embedding dim t*K+j). Axis-aligned planes keep
# the bucketing exactly expressible in the DuckDB oracle, so the candidate
# set — not just the verified pairs — is oracle-checked.
_ND_TABLES, _ND_BITS = 8, 8
_ND_THRESHOLD = 0.25


def _nd_bucket_sql(t: int) -> str:
    """DuckDB expression for table *t*'s bucket id (1-based list index)."""
    return " + ".join(
        f"CAST(embedding[{_ND_BITS * t + j + 1}] > 0 AS INT) * {1 << j}"
        for j in range(_ND_BITS)
    )


def _nd_buckets_spark(emb):
    """array<int> of per-table bucket ids, same bit layout as the SQL."""
    out = []
    for t in range(_ND_TABLES):
        bucket = F.lit(0)
        for j in range(_ND_BITS):
            bit = (F.element_at(emb, _ND_BITS * t + j + 1) > 0).cast("int")
            bucket = bucket + bit * (1 << j)
        out.append(bucket)
    return F.array(*out)


_ND_BANDS_CTE = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_nd_bucket_sql(t)} AS bucket FROM embeddings"
    for t in range(_ND_TABLES)
)

# DuckDB fragment computing cosine(a, b) as the same sequential fold Spark's
# F.aggregate performs: products in element order, then left-fold addition.
_DD_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _dd_cosine(a: str, b: str) -> str:
    dot = _DD_DOT.format(a=a, b=b)
    na = _DD_DOT.format(a=a, b=a)
    nb = _DD_DOT.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _km_cte_sql(k: int, iters: int) -> str:
    """Recursive-CTE Lloyd fold over the ``embeddings`` table (the proven
    kmeans-oracle pattern, parameterized so the IVF coarse quantizer can
    reuse it): defines CTEs ``packed``/``init``/``km`` and ``fin`` whose
    single row holds the final centroid list. Caller prefixes with
    ``WITH RECURSIVE`` and appends its own consuming CTEs."""
    return f"""packed AS (
      SELECT list(embedding ORDER BY vec_id) AS embs,
             COUNT(*) AS n
      FROM embeddings
    ), init AS (
      SELECT list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS cents
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {k})
    ), km(it, cents) AS (
      SELECT 0, cents FROM init
      UNION ALL
      SELECT it + 1,
             -- len(cents), not the literal k: mirrors lloyd_kmeans's
             -- k-shrink when the corpus has fewer than k vectors (the
             -- LIMIT in init already yields the shrunken centroid list)
             list_transform(range(1, len(cents) + 1), cl ->
               CASE WHEN NOT list_contains(assign, cl) THEN cents[cl]
                    ELSE list_transform(range(1, len(cents[cl]) + 1), i ->
                           list_sum(list_transform(
                             list_filter(range(1, CAST(n AS INTEGER) + 1),
                                         p -> assign[p] = cl),
                             p -> CAST(embs[p][i] AS DOUBLE)))
                           / len(list_filter(
                               range(1, CAST(n AS INTEGER) + 1),
                               p -> assign[p] = cl)))
               END)
      FROM (
        SELECT it, cents, embs, n,
               list_transform(embs, e ->
                 list_position(
                   list_transform(cents, c ->
                     list_sum(list_transform(range(1, len(c) + 1),
                       i -> (CAST(e[i] AS DOUBLE) - c[i])
                            * (CAST(e[i] AS DOUBLE) - c[i])))),
                   list_min(
                     list_transform(cents, c ->
                       list_sum(list_transform(range(1, len(c) + 1),
                         i -> (CAST(e[i] AS DOUBLE) - c[i])
                              * (CAST(e[i] AS DOUBLE) - c[i]))))))) AS assign
        FROM km, packed WHERE it < {iters}
      )
    ), fin AS (
      SELECT cents FROM km WHERE it = {iters}
    )"""


#: The exact brute-force top-k frame (query_id, neighbor_id, cos_sim,
#: rank; <= |queries|*k rows) is session-memoized. FOUR
#: call sites run the identical corpus scan + two-stage window per
#: session — the registered query itself plus the exact-recall sides of
#: pq_reconstruction_audit, ivfpq_selectivity_audit and
#: similarity_recall_report (each ~0.9 s at sf0.1, measured r16) — and
#: the frame is the ground-truth table a production ANN evaluation
#: materializes once. The checkpoint is <= 50 rows.


@SIM.register(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_dd_cosine('q.qe', 'e.embedding')} AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) t WHERE rank <= {_TOP_K}
    """,
)
@session_memo("embeddings")
def similarity_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-k: broadcast the query set, score every corpus vector,
    take per-query top-k with a salted two-stage window.

    Scale: queries are broadcast (no corpus shuffle for scoring). The top-k
    itself is two window stages: a pre-top-k keyed on (query,
    hash(neighbor) % 32) spreads the |corpus|×|queries| scored rows over
    32·|queries| reduce keys — a single per-query window would funnel the
    whole corpus through |queries| reducer tasks — then the global window
    ranks the ≤ 32·k survivors per query. Same total order both stages, so
    the result is identical to the single-window plan. The result frame is
    session-memoized: three ANN audits consume it as their exact ground
    truth.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # precompute each side's norm ONCE per vector (not per pair) — bitwise
    # identical to the oracle's sqrt-of-fold since it's the same expression,
    # evaluated 1× instead of |queries|×
    corpus = e.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_from(
                dot(F.col("qe"), F.col("embedding")),
                F.col("qnrm"),
                F.col("nrm"),
            ).alias("cos_sim"),
        )
    )
    order = (F.desc("cos_sim"), "neighbor_id")
    wpre = W.partitionBy("query_id", "__salt").orderBy(*order)
    pre = (
        scored.withColumn(
            "__salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(32))
        )
        .withColumn("__r", F.row_number().over(wpre))
        .filter(F.col("__r") <= _TOP_K)
    )
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .localCheckpoint(eager=False)
    )


@SIM.register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH bands AS ({_ND_BANDS_CTE}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           {_dd_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.vec_a
    JOIN embeddings b ON b.vec_id = c.vec_b
    WHERE {_dd_cosine('a.embedding', 'b.embedding')} >= {_ND_THRESHOLD}
    """,
)
@session_memo("embeddings")
def embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via sign-LSH banded blocking.

    Candidates: pairs sharing any of 8 LSH band buckets (8 axis-aligned
    sign bits each — bit j of table t is the sign of dimension t*8+j,
    covering all 64 dims disjointly); verify: exact cosine >= 0.25
    (_ND_THRESHOLD). Axis-aligned hyperplanes make the
    bucketing SQL-expressible, so the DuckDB oracle reproduces the exact
    candidate set, not just the verified pairs.

    Scale: replaces the old label-blocked O(block^2) join. Measured at
    sf0.1 (2000 vecs): max bucket 20, candidate pairs 3% of all pairs.
    Buckets hold ~n/2^K vectors, so the per-band quadratic term is
    n^2/2^K rows — tune K up with corpus size. Collision probability per
    band is (1 - theta/pi)^K: ~29% per band / ~93% over 8 bands at
    cos 0.9 — high recall exactly where near-dups live; the low verify
    threshold here only keeps the verified set non-empty on this
    synthetic corpus (which has no pairs above cos 0.8).

    The verified eps-graph is session-memoized (r15, the
    `neardup_jaccard_pairs` precedent): `dbscan_embedding_clusters`
    consumes the IDENTICAL banded self-join + cosine verify, and without
    the memo each consumer re-ran the most expensive embedding-side join
    in the repo. At 100 TB this is the "materialize the eps-graph once"
    stage every density-clustering pipeline has.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # checkpointed: the band self-join reads this twice (plus the corpus
    # frame below twice) — without the shares one plan scanned embeddings
    # four times
    bands = exploded_rows_pos(
        e, ["vec_id"], _nd_buckets_spark(F.col("embedding")), "tbl", "bucket"
    ).localCheckpoint(eager=False)
    # skinny distinct on the id pair BEFORE touching vectors: multi-table
    # collisions collapse on 2 longs, not 2 x 64 floats
    cand = (
        bands.alias("ba")
        .join(
            bands.alias("bb"),
            (F.col("ba.tbl") == F.col("bb.tbl"))
            & (F.col("ba.bucket") == F.col("bb.bucket"))
            & (F.col("ba.vec_id") < F.col("bb.vec_id")),
        )
        .select(
            F.col("ba.vec_id").alias("vec_a"),
            F.col("bb.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    corpus = e.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    ).localCheckpoint(eager=False)
    return (
        cand.join(
            corpus.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("emb_a"),
                F.col("nrm").alias("nrm_a"),
            ),
            "vec_a",
        )
        .join(
            corpus.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("emb_b"),
                F.col("nrm").alias("nrm_b"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            cosine_from(
                dot(F.col("emb_a"), F.col("emb_b")),
                F.col("nrm_a"),
                F.col("nrm_b"),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _ND_THRESHOLD)
        .localCheckpoint(eager=False)
    )


_ANN_TABLES, _ANN_BITS = 8, 4  # L tables x k sign bits per table
_ANN_STRIDE = 8  # bit j of table t = sign of dim t*STRIDE + j


def _ann_bucket_sql(t: int) -> str:
    """DuckDB expression for ANN table *t*'s bucket id (1-based index)."""
    return " + ".join(
        f"CAST(embedding[{_ANN_STRIDE * t + j + 1}] > 0 AS INT) * {1 << j}"
        for j in range(_ANN_BITS)
    )


def _ann_buckets_spark(emb):
    """array<int> of per-table ANN bucket ids, same bit layout as the SQL."""
    out = []
    for t in range(_ANN_TABLES):
        bucket = F.lit(0)
        for j in range(_ANN_BITS):
            bit = (F.element_at(emb, _ANN_STRIDE * t + j + 1) > 0).cast("int")
            bucket = bucket + bit * (1 << j)
        out.append(bucket)
    return F.array(*out)


_ANN_BANDS_CTE = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_ann_bucket_sql(t)} AS bucket"
    f" FROM embeddings"
    for t in range(_ANN_TABLES)
)


@SIM.register(
    "similarity_ann_lsh",
    oracle=f"""
    WITH bands AS ({_ANN_BANDS_CTE}),
    qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bands
           WHERE vec_id < {_N_QUERIES}),
    cand AS (
      SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
      FROM qb JOIN bands b
        ON b.tbl = qb.tbl AND b.bucket = qb.bucket
       AND b.vec_id <> qb.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             {_dd_cosine('qv.embedding', 'e.embedding')} AS cos_sim
      FROM cand c
      JOIN embeddings qv ON qv.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) t WHERE rank <= {_TOP_K}
    """,
)
def similarity_ann_lsh(spark, sf_dir):
    """Approximate NN via multi-table sign-bit (hyperplane) LSH.

    L=8 hash tables × k=4 axis-aligned sign bits each (bit j of table t is
    the sign of dimension t*8+j, so the tables sample disjoint dims across
    the whole vector). Candidates for a query are corpus vectors sharing
    any table's bucket; exact cosine re-ranks the candidates (top-10 per
    query). Axis-aligned hyperplanes keep the whole dataflow — bucketing,
    candidate set, scoring, ranking — exactly replayable in the DuckDB
    oracle (upgraded from rows-only in round 7, same precedent as
    `embedding_neardup_pairs`), and bucket ids are computed by built-in
    expressions entirely JVM-side: no Python worker in the plan at all,
    unlike the previous seeded-numpy random-hyperplane variant.

    Scale: bucket ids are computed map-side (no shuffle); the all-pairs
    scoring of brute force is replaced by one (table, bucket) equi-join
    whose fan-in per bucket is ~|corpus|/2^k — tune k up as the corpus
    grows, L up for recall.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # checkpointed (with the corpus frame below): the query-side band table
    # and the candidate join both read tagged, and the scoring join reads
    # corpus twice — one embeddings scan total instead of four
    tagged = exploded_rows_pos(
        e, ["vec_id"], _ann_buckets_spark(F.col("embedding")), "table", "bucket"
    ).localCheckpoint(eager=False)
    q = tagged.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("table").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    # dedupe multi-table collisions on the (query, neighbor) ID pair BEFORE
    # touching the vectors — array-valued distinct is far wider than 2 ints
    cand_ids = (
        tagged.join(
            F.broadcast(q),
            (F.col("table") == F.col("qtable"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    corpus = e.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    ).localCheckpoint(eager=False)
    qvec = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        cand_ids.join(
            corpus.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_from(
                dot(F.col("qe"), F.col("embedding")),
                F.col("qnrm"),
                F.col("nrm"),
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )


_IVF_K, _IVF_NPROBE, _IVF_ITERS = 16, 4, 5


@SIM.register(
    "similarity_ann_ivf",
    oracle=f"""
    WITH RECURSIVE {_km_cte_sql(_IVF_K, _IVF_ITERS)},
    dists AS (
      SELECT e.vec_id,
             list_transform((SELECT cents FROM fin), c ->
               list_sum(list_transform(range(1, len(c) + 1),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - c[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - c[i])))) AS ds
      FROM embeddings e
    ),
    cells AS (
      SELECT vec_id,
             CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER) AS cell
      FROM dists
    ),
    qprobe AS (
      SELECT query_id, cell FROM (
        SELECT query_id, i - 1 AS cell, d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, i) AS rn
        FROM (SELECT vec_id AS query_id,
                     unnest(range(1, len(ds) + 1)) AS i,
                     unnest(ds) AS d2
              FROM dists WHERE vec_id < {_N_QUERIES})
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    cand AS (
      SELECT q.query_id, c.vec_id AS neighbor_id
      FROM qprobe q JOIN cells c
        ON c.cell = q.cell AND c.vec_id <> q.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             {_dd_cosine('qv.embedding', 'e.embedding')} AS cos_sim
      FROM cand c
      JOIN embeddings qv ON qv.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) t WHERE rank <= {_TOP_K}
    """,
)
def similarity_ann_ivf(spark, sf_dir):
    """Approximate NN via IVF (inverted-file) coarse quantization.

    Train: the coarse quantizer is `ops.lloyd_centroids` — the same
    fully-distributed, deterministic Lloyd loop behind
    `kmeans_embedding_clusters` (k=16, 5 iterations, init = k lowest
    vec_ids), so training touches the whole corpus with O(k·d) shuffle and
    driver transfer instead of a driver-side sample, and the entire
    dataflow — training fold, cell assignment, query probing, cosine
    re-rank — replays in the DuckDB oracle via the shared recursive-CTE
    Lloyd fold (upgraded from rows-only in round 7). Index: every vector
    is assigned to its nearest centroid by a vectorized Pandas UDF (one
    matmul per Arrow batch; lowest-index argmin = the oracle's
    `list_position(list_min)`). Search: each query probes its `nprobe=4`
    nearest cells (stable argsort = the oracle's `ORDER BY d2, i` tie
    rule); exact cosine re-ranks within the probed cells.

    Scale: assignment is map-side; the search join touches
    |corpus|·nprobe/k of the data instead of all of it; centroids are
    broadcast constants.
    """
    e = load_table(spark, sf_dir, "embeddings")
    centroids = _corpus_centroids(spark, sf_dir, _IVF_K, _IVF_ITERS)
    nprobe = _IVF_NPROBE

    @F.pandas_udf("int")
    def nearest_cell(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy()).astype("float64")
        d2 = (
            (m ** 2).sum(axis=1, keepdims=True)
            - 2 * m @ centroids.T
            + (centroids ** 2).sum(axis=1)[None, :]
        )
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    @F.pandas_udf("array<int>")
    def probe_cells(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy()).astype("float64")
        d2 = (
            (m ** 2).sum(axis=1, keepdims=True)
            - 2 * m @ centroids.T
            + (centroids ** 2).sum(axis=1)[None, :]
        )
        # stable sort: distance ties break toward the lower cell index,
        # matching the oracle's ORDER BY d2, i
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    indexed = e.select(
        "vec_id", "embedding", nearest_cell("embedding").alias("cell")
    )
    q = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(probe_cells("embedding")).alias("qcell"),
        )
    )
    cand = indexed.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("embedding")).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )


@SIM.register(
    "embedding_array_stats",
    oracle="""
    SELECT vec_id, label,
           list_reduce(list_transform(generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y) AS vec_sum,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS vec_max,
           CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS vec_min,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def embedding_array_stats(spark, sf_dir):
    """Array-column analytics: fold-sum, min/max, dimensionality — the
    ArrayType function surface (F.aggregate / array_max / array_min)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        "label",
        F.aggregate(
            F.transform(emb, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("vec_sum"),
        F.array_max(emb).cast("double").alias("vec_max"),
        F.array_min(emb).cast("double").alias("vec_min"),
        F.size(emb).alias("dim"),
    )


_PQ_M, _PQ_KSUB, _PQ_SAMPLE_N = 8, 16, 2048


@session_memo("embeddings")
def _pq_fit(spark, sf_dir):
    """Train the per-subspace PQ codebooks (m=_PQ_M subspaces, ksub=
    _PQ_KSUB centroids each, 5 Lloyd iterations, seed 42) on a bounded
    md5(id)-lowest sample — deterministic across runs/partitionings and
    driver-side, so the trained floats are bit-stable within a corpus
    generation. Returns (codebooks (m, ksub, dsub), cb_norm2 (m, ksub),
    dim, dsub). Session-memoized: `similarity_ann_pq` and
    `pq_reconstruction_audit` (r11) share one training run per session —
    the training collect is bounded (_PQ_SAMPLE_N rows) but pays a corpus
    scan + sort."""
    # deterministic training sample: md5(id)-lowest rows (content-
    # independent pseudo-random and stable across partitionings, unlike a
    # bare limit() whose row order is scan-order-dependent)
    sample = _pq_training_sample(spark, sf_dir)
    dim = sample.shape[1]
    dsub = dim // _PQ_M
    codebooks = _pq_train_codebooks(sample, dsub)
    return codebooks, (codebooks ** 2).sum(axis=2), dim, dsub


def _pq_training_sample(spark, sf_dir) -> np.ndarray:
    """The bounded md5(id)-lowest training sample as an (n, d) float64
    matrix, ordered by the md5 sort (stable across partitionings)."""
    e = load_table(spark, sf_dir, "embeddings")
    return np.vstack(
        [
            r["embedding"]
            for r in e.select("vec_id", "embedding")
            .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")))
            .limit(_PQ_SAMPLE_N)
            .collect()
        ]
    ).astype("float64")


def _pq_train_codebooks(sample: np.ndarray, dsub: int) -> np.ndarray:
    """Per-subspace k-means (ksub centroids, 5 Lloyd iterations, seed
    42) over ``sample`` — shared by raw-vector PQ (`_pq_fit`) and
    residual PQ (`_ivfpq_fit`); the training input is the ONLY
    difference between the two layouts."""
    rng = np.random.default_rng(42)
    codebooks = np.zeros((_PQ_M, _PQ_KSUB, dsub))
    for j in range(_PQ_M):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=_PQ_KSUB, replace=False)]
        for _ in range(5):  # Lloyd iterations per subspace
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(_PQ_KSUB):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        codebooks[j] = cents
    return codebooks


def _pq_encode_udf(codebooks, cb_norm2, dsub):
    """Arrow-batched encoder: each vector -> _PQ_M nearest-centroid codes
    (one vectorized numpy pass per batch; codebooks ship as closure
    literals, the int8-audit precedent for d-bounded model state)."""

    @F.pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype("float64")
        codes = np.empty((len(mat), _PQ_M), dtype="int32")
        for j in range(_PQ_M):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            d2 = (
                (sub ** 2).sum(axis=1, keepdims=True)
                - 2 * sub @ codebooks[j].T
                + cb_norm2[j][None, :]
            )
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


@SIM.register("similarity_ann_pq", oracle=None)
def similarity_ann_pq(spark, sf_dir):
    """ANN via product quantization (PQ) with asymmetric distance
    computation — the memory-bound scale path (IVF-PQ is the standard
    billion-vector index layout; the IVF half is `similarity_ann_ivf`).

    Train: per-subspace k-means (m=8 subspaces × 8 dims, 16 centroids each,
    seed 42) on a bounded driver-side sample. Index: each corpus vector
    compresses to m 4-bit codes (64 dims × 4 bytes → 8 bytes, 32×). Search:
    each query builds an m×16 dot-product lookup table once; corpus scoring
    is pure table lookups + adds over the codes (one vectorized numpy pass
    per Arrow batch — no decompression), with norms approximated from the
    codebook entries. Exact re-ranking of the PQ top-k is the usual final
    step at scale; omitted here so the measured operator is the ADC scan
    itself.

    Rows-only check — and measurably so, same class as PCA/ALS: unlike
    LSH (bucketing from raw sign bits) and IVF (output cosines computed
    from RAW embeddings; centroids only pick the DISCRETE probe/cell
    sets), PQ's output scores are built FROM the trained centroid values
    (LUT entries are query·centroid dot products), so shuffle-order ulps
    in any distributed centroid update leak directly into every output
    float and no rounding threshold is safe across testdata
    regenerations. Training is therefore kept engine-side on a bounded
    sample; recall-vs-bruteforce floors are pinned in tests/test_ann.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    codebooks, cb_norm2, dim, dsub = _pq_fit(spark, sf_dir)
    m_sub = _PQ_M

    encode = _pq_encode_udf(codebooks, cb_norm2, dsub)
    coded = e.select("vec_id", encode("embedding").alias("codes"))

    qrows = sorted(
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([r["vec_id"] for r in qrows])
    qmat = np.vstack([r["embedding"] for r in qrows]).astype("float64")
    nq = len(qids)
    # per-query LUT: luts[q, j, c] = <query_subvector_j, codebook[j][c]>
    luts = np.einsum("qjd,jcd->qjc", qmat.reshape(nq, m_sub, dsub), codebooks)
    qnorm = np.sqrt((qmat ** 2).sum(axis=1))

    def adc_scan(batches):
        for pdf in batches:
            codes = np.vstack(pdf["codes"].to_numpy())  # (n, m)
            n = len(codes)
            approx_dot = np.zeros((nq, n))
            xnorm2 = np.zeros(n)
            for j in range(m_sub):
                approx_dot += luts[:, j, codes[:, j]]
                xnorm2 += cb_norm2[j, codes[:, j]]
            cos = approx_dot / (qnorm[:, None] * np.sqrt(xnorm2)[None, :])
            vec_ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(vec_ids, nq),
                    "approx_cos": cos.ravel(),
                }
            )

    scored = coded.mapInPandas(
        adc_scan, "query_id long, neighbor_id long, approx_cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("approx_cos"), "neighbor_id")
    return (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )


#: pq_reconstruction_audit bucket bounds, each a >=1.7x envelope around
#: the measured sf0.001/0.01/0.1 values (r11 probe; the HLL-5%-bound
#: tradition — a real bug moves the metric by O(1), noise by ulps):
#: mean recon cos measured 0.640-0.671 (floor 0.5); mean recon MSE
#: measured 0.0086-0.0092 (bound 0.05, 5.4x); recall@10 vs exact
#: measured 0.20-0.28 (floor 0.1; random top-10 of a 2000-vector corpus
#: recalls ~0.005); ADC |approx-true| cosine error measured max
#: 0.31-0.36 / mean 0.12-0.16 (bounds 0.7 / 0.35).
_PQ_RECON_COS_FLOOR = 0.5
_PQ_RECON_MSE_BOUND = 0.05
_PQ_RECALL_FLOOR = 0.1
_PQ_ADC_ERR_MAX_BOUND = 0.7
_PQ_ADC_ERR_MEAN_BOUND = 0.35


@SIM.register(
    "pq_reconstruction_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MAX(len(embedding)) AS INTEGER) AS dim,
           CAST({_N_QUERIES * _TOP_K} AS BIGINT) AS n_report_pairs,
           TRUE AS codes_in_range,
           TRUE AS subspaces_nondegenerate,
           TRUE AS recon_cos_floor,
           TRUE AS recon_mse_bounded,
           TRUE AS recall_vs_exact_floor,
           TRUE AS adc_err_bounded
    FROM embeddings
    """,
)
def pq_reconstruction_audit(spark, sf_dir):
    """PQ observability (r11: the last ANN family member without a driver
    VALUE check gains one — the sketch-report envelope pattern of
    `embedding_int8_quantize_audit`/`contamination_bloom_audit`):
    `similarity_ann_pq` itself is rows-only by measurement (its output
    scores are built FROM the trained codebook floats, so no rounding
    threshold survives a testdata regeneration), but the numbers that
    justify SERVING the PQ index are cross-checkable: this audit
    reports, in one row, what IS cross-engine exact (corpus size, vector
    dimensionality, and the report-pair count the top-k contract fixes
    at n_queries x k) next to buckets whose truth the Spark side
    measures on the REAL trained codebooks and the REAL ADC scan —
    every code in [0, ksub), every subspace using >=2 distinct codes
    (measured: all 16 at every sf; 1 = collapsed training), mean
    reconstruction cosine >= 0.5 and mean reconstruction MSE <= 0.05
    (measured 0.640-0.671 / 0.0086-0.0092 across sf0.001-0.1), PQ
    recall@10 against the exact brute-force top-k >= 0.1 (measured
    0.20-0.28; random recalls ~0.005), and ADC-vs-true cosine error
    bounded (max <= 0.7, mean <= 0.35; measured 0.31-0.36 / 0.12-0.16).
    A broken encoder, a swapped LUT axis, a degenerate training run, or
    an inflated ADC approximation each flips a bucket and the driver
    hash goes red. Bounds live in the _PQ_* constants above;
    tests/test_ann.py pins tighter floors at the test sf.

    Scale: training is the memoized bounded-sample `_pq_fit` (shared
    with `similarity_ann_pq` — one run per session); the encode+decode
    error pass is ONE narrow Arrow-batched mapInPandas over the corpus
    whose output (vec_id, 2 doubles, m codes) is checkpointed — at
    production scale that checkpoint IS the PQ index artifact you'd
    persist; code-usage is an 8-group aggregation with map-side combine;
    recall joins two 50-row top-k frames (each corpus-linear to
    produce, queries broadcast); true-cosine fetch broadcasts the
    50-pair frame against the corpus scan. Driver traffic: one stats
    row, 8 usage rows, 4 scalars — corpus-independent.
    """
    m = _pq_audit_metrics(spark, sf_dir)
    return spark.createDataFrame(
        [
            (
                m["n_vectors"],
                m["dim"],
                m["n_report_pairs"],
                m["codes_in_range"],
                m["subspaces_nondegenerate"],
                bool(m["mean_recon_cos"] >= _PQ_RECON_COS_FLOOR),
                bool(m["mean_recon_mse"] <= _PQ_RECON_MSE_BOUND),
                bool(m["recall"] >= _PQ_RECALL_FLOOR),
                bool(
                    m["adc_err_max"] <= _PQ_ADC_ERR_MAX_BOUND
                    and m["adc_err_mean"] <= _PQ_ADC_ERR_MEAN_BOUND
                ),
            )
        ],
        "n_vectors bigint, dim int, n_report_pairs bigint,"
        " codes_in_range boolean, subspaces_nondegenerate boolean,"
        " recon_cos_floor boolean, recon_mse_bounded boolean,"
        " recall_vs_exact_floor boolean, adc_err_bounded boolean",
    )


def _pq_audit_metrics(spark, sf_dir) -> dict:
    """The raw measured values behind `pq_reconstruction_audit`'s
    buckets — exposed so tests/test_ann.py can pin TIGHTER bounds on the
    underlying floats (early warning) while the shipped _PQ_* envelopes
    gate the driver row (r11 review: asserting only the booleans would
    fire simultaneously with the driver red, not before it)."""
    codebooks, cb_norm2, dim, dsub = _pq_fit(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    m_sub, ksub = _PQ_M, _PQ_KSUB

    def enc_dec(batches):
        for pdf in batches:
            mat = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            n = len(mat)
            codes = np.empty((n, m_sub), dtype="int32")
            recon = np.empty_like(mat)
            for j in range(m_sub):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (sub ** 2).sum(axis=1, keepdims=True)
                    - 2 * sub @ codebooks[j].T
                    + cb_norm2[j][None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
                recon[:, j * dsub : (j + 1) * dsub] = codebooks[j][
                    codes[:, j]
                ]
            num = (mat * recon).sum(axis=1)
            den = np.sqrt((mat ** 2).sum(axis=1)) * np.sqrt(
                (recon ** 2).sum(axis=1)
            )
            cos = np.where(den > 0, num / den, 0.0)
            mse = ((mat - recon) ** 2).mean(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "recon_cos": cos,
                    "recon_mse": mse,
                    "codes": list(codes),
                }
            )

    per_vec = (
        e.select("vec_id", "embedding")
        .mapInPandas(
            enc_dec,
            "vec_id long, recon_cos double, recon_mse double,"
            " codes array<int>",
        )
        .localCheckpoint(eager=False)
    )
    stats = per_vec.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("recon_cos").alias("mean_cos"),
        F.avg("recon_mse").alias("mean_mse"),
    ).first()
    usage = (
        per_vec.select(F.posexplode("codes").alias("sub", "code"))
        .groupBy("sub")
        .agg(
            F.count_distinct("code").alias("nd"),
            F.min("code").alias("mn"),
            F.max("code").alias("mx"),
        )
        .collect()
    )
    codes_in_range = bool(
        len(usage) == m_sub
        and min(r["mn"] for r in usage) >= 0
        and max(r["mx"] for r in usage) < ksub
    )
    nondegenerate = bool(
        len(usage) == m_sub and all(r["nd"] >= 2 for r in usage)
    )

    pq = (
        similarity_ann_pq(spark, sf_dir)
        .select("query_id", "neighbor_id", "approx_cos")
        .localCheckpoint(eager=False)
    )
    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    n_pairs = pq.count()
    matched = pq.join(bf, ["query_id", "neighbor_id"]).count()
    recall = matched / n_pairs if n_pairs else 0.0

    nb = e.join(
        F.broadcast(pq), e["vec_id"] == pq["neighbor_id"]
    ).select(
        "query_id", "approx_cos", e["embedding"].alias("ne")
    )
    qv = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    err_row = (
        qv.join(F.broadcast(nb), "query_id")
        .select(
            F.abs(
                F.col("approx_cos") - cosine(F.col("qe"), F.col("ne"))
            ).alias("err")
        )
        .agg(F.max("err").alias("mx"), F.avg("err").alias("av"))
        .first()
    )

    return {
        "n_vectors": int(stats["n"]),
        "dim": int(dim),
        "n_report_pairs": int(n_pairs),
        "codes_in_range": codes_in_range,
        "subspaces_nondegenerate": nondegenerate,
        "code_distinct_counts": sorted(r["nd"] for r in usage),
        "mean_recon_cos": float(stats["mean_cos"]),
        "mean_recon_mse": float(stats["mean_mse"]),
        "recall": float(recall),
        "adc_err_max": float(err_row["mx"]),
        "adc_err_mean": float(err_row["av"]),
    }


@session_memo("embeddings")
def _ivfpq_fit(spark, sf_dir):
    """Train residual-PQ codebooks for the IVF-PQ layout: the same
    bounded md5-lowest sample as `_pq_fit`, but each vector is first
    reduced to its RESIDUAL against its nearest IVF centroid (the
    Jegou et al. 2011 coarse+fine decomposition — residuals are
    near-zero-mean and much lower-variance than raw vectors, which is
    why production billion-vector indexes quantize them instead).
    Returns (centroids (k, d), codebooks (m, ksub, dsub), cb_norm2,
    dim, dsub). Session-memoized like `_pq_fit`; the residual training
    additionally depends on the IVF centroids, which are themselves
    deterministic functions of the same fingerprinted corpus, so one
    fingerprint covers both."""
    centroids = _corpus_centroids(spark, sf_dir, _IVF_K, _IVF_ITERS)
    sample = _pq_training_sample(spark, sf_dir)
    dim = sample.shape[1]
    dsub = dim // _PQ_M
    d2 = (
        (sample ** 2).sum(axis=1, keepdims=True)
        - 2 * sample @ centroids.T
        + (centroids ** 2).sum(axis=1)[None, :]
    )
    residuals = sample - centroids[d2.argmin(axis=1)]
    codebooks = _pq_train_codebooks(residuals, dsub)
    return centroids, codebooks, (codebooks ** 2).sum(axis=2), dim, dsub


def _ivfpq_index_frame(spark, sf_dir, source=None):
    """The coded IVF-PQ index frame (vec_id, cell, codes, xnorm) for
    ``source`` (default: the full embeddings table) under the session's
    FROZEN quantizer (`_ivfpq_fit` memo): one narrow Arrow-batched pass
    that assigns each vector its nearest IVF cell, PQ-encodes the
    residual, and stores the exact norm. Factored out of
    `similarity_ann_ivfpq` (r12) so the streaming index-growth path
    (`streaming_ivfpq_index_growth`) encodes arriving batches with the
    IDENTICAL kernel the batch build uses — the equality of the two is
    that query's driver-checked claim."""
    e = (
        source
        if source is not None
        else load_table(spark, sf_dir, "embeddings")
    )
    centroids, codebooks, cb_norm2, dim, dsub = _ivfpq_fit(spark, sf_dir)
    m_sub = _PQ_M
    cent_norm2 = (centroids ** 2).sum(axis=1)

    def index_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            n = len(mat)
            d2 = (
                (mat ** 2).sum(axis=1, keepdims=True)
                - 2 * mat @ centroids.T
                + cent_norm2[None, :]
            )
            cells = d2.argmin(axis=1)
            resid = mat - centroids[cells]
            codes = np.empty((n, m_sub), dtype="int32")
            for j in range(m_sub):
                sub = resid[:, j * dsub : (j + 1) * dsub]
                dd = (
                    (sub ** 2).sum(axis=1, keepdims=True)
                    - 2 * sub @ codebooks[j].T
                    + cb_norm2[j][None, :]
                )
                codes[:, j] = dd.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cells.astype("int32"),
                    "codes": list(codes),
                    "xnorm": np.sqrt((mat ** 2).sum(axis=1)),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        index_kernel,
        "vec_id long, cell int, codes array<int>, xnorm double",
    )


@SIM.register("similarity_ann_ivfpq", oracle=None)
def similarity_ann_ivfpq(spark, sf_dir):
    """ANN via IVF-PQ — the composition of `similarity_ann_ivf`'s coarse
    quantizer and `similarity_ann_pq`'s product quantizer into the
    standard billion-vector index layout (Jegou et al. 2011; what FAISS
    `IndexIVFPQ` serves): every vector stores its IVF cell, its exact
    norm, and m 4-bit codes of its RESIDUAL against the cell centroid;
    a query probes its nprobe nearest cells and ADC-scores only vectors
    in those cells via approx_dot = <q, centroid_cell> + sum of
    per-subspace LUT lookups on the residual codes. This is the piece
    the two halves individually leave undemonstrated: IVF re-ranks with
    exact cosines (needs the raw vectors), PQ scans the whole corpus —
    IVF-PQ is the plan where neither raw vectors nor full scans exist
    at search time, i.e. the memory/compute posture that actually
    serves at 100 TB.

    Rows-only by the same round-6 measurement as `similarity_ann_pq`:
    output scores are built FROM the trained centroid/codebook floats,
    so no rounding threshold survives a regeneration. Pinned instead in
    tests/test_ann.py: determinism, a recall floor vs brute force, and
    the structural candidate-restriction invariant (every reported
    neighbor's cell lies in its query's probe set — the property that
    makes the layout an INDEX rather than a scan).

    Scale: one narrow Arrow-batched index pass (cell assign + residual
    encode + exact norm per vector — at production scale this coded
    frame IS the persisted index artifact); the search is a second
    narrow pass that scores each batch row only against the queries
    probing its cell (nprobe/k of the corpus per query on average),
    then one per-query top-k window over the surviving candidates. No
    joins, no shuffle before the final window; centroids, codebooks,
    and the per-query LUTs ship broadcast as closure literals.
    """
    return _ivfpq_search_frame(spark, sf_dir, _ivfpq_index_frame(spark, sf_dir))


def _ivfpq_search_frame(spark, sf_dir, coded):
    """ADC top-k search over an arbitrary coded IVF-PQ frame (vec_id,
    cell, codes, xnorm) under the session's frozen quantizer — the
    search half of `similarity_ann_ivfpq`, factored out (r13) so the
    streaming index-serving proof (`streaming_ivfpq_index_serving`) can
    run the IDENTICAL search against the streamed accumulator and the
    batch build. Per-candidate arithmetic is row-local (LUT gathers +
    elementwise adds in fixed subspace order, one divide), so the scores
    are bit-identical for bit-identical coded rows regardless of how the
    frame is batched — the property the serving-equality facts rest on.
    Returns (query_id, neighbor_id, approx_cos, rank), rank <= _TOP_K
    per query, ties broken by neighbor_id."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids, codebooks, cb_norm2, dim, dsub = _ivfpq_fit(spark, sf_dir)
    m_sub, nprobe = _PQ_M, _IVF_NPROBE
    cent_norm2 = (centroids ** 2).sum(axis=1)

    qrows = sorted(
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([r["vec_id"] for r in qrows])
    qmat = np.vstack([r["embedding"] for r in qrows]).astype("float64")
    nq = len(qids)
    qnorm = np.sqrt((qmat ** 2).sum(axis=1))
    qd2 = (
        (qmat ** 2).sum(axis=1, keepdims=True)
        - 2 * qmat @ centroids.T
        + cent_norm2[None, :]
    )
    # stable argsort: distance ties break toward the lower cell index,
    # the similarity_ann_ivf probe rule
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :nprobe]
    q_cent_dot = qmat @ centroids.T  # (nq, k): the <q, c> ADC constant
    luts = np.einsum(
        "qjd,jcd->qjc", qmat.reshape(nq, m_sub, dsub), codebooks
    )  # (nq, m, ksub)

    def adc_scan(batches):
        for pdf in batches:
            codes = np.vstack(pdf["codes"].to_numpy())  # (n, m)
            cells = pdf["cell"].to_numpy()
            xnorm = pdf["xnorm"].to_numpy()
            vec_ids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for qi in range(nq):
                mask = np.isin(cells, probes[qi])
                if not mask.any():
                    continue
                sub_codes = codes[mask]
                approx = q_cent_dot[qi, cells[mask]].copy()
                for j in range(m_sub):
                    approx += luts[qi, j, sub_codes[:, j]]
                cos = approx / (qnorm[qi] * xnorm[mask])
                out_q.append(np.full(mask.sum(), qids[qi]))
                out_n.append(vec_ids[mask])
                out_c.append(cos)
            if not out_q:
                yield pd.DataFrame(
                    {
                        "query_id": pd.Series([], dtype="int64"),
                        "neighbor_id": pd.Series([], dtype="int64"),
                        "approx_cos": pd.Series([], dtype="float64"),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "approx_cos": np.concatenate(out_c),
                }
            )

    scored = coded.mapInPandas(
        adc_scan, "query_id long, neighbor_id long, approx_cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("approx_cos"), "neighbor_id")
    return (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )


#: ivfpq_selectivity_audit bucket bounds — >=2x envelopes around the r11
#: measurements (recall 0.42/0.50/0.20 at sf0.001/0.01/0.1; residual-ADC
#: cosine error max 0.21-0.25 / mean 0.064-0.072 — about 2x tighter than
#: raw-vector PQ's 0.31-0.36 / 0.12-0.16, the quantitative payoff of
#: residual encoding)
_IVFPQ_RECALL_FLOOR = 0.1
_IVFPQ_ADC_ERR_MAX_BOUND = 0.5
_IVFPQ_ADC_ERR_MEAN_BOUND = 0.15


#: Shared oracle prefix: DuckDB replay of the IVF coarse quantizer (the
#: recursive-CTE Lloyd fold) down to the per-query CANDIDATE counts —
#: ``cand(query_id, n_cand)`` = the probed cells' populations minus the
#: query itself. Consumed by ``ivfpq_selectivity_audit`` and (r13) the
#: streamed-index serving proof ``streaming_ivfpq_index_serving``, whose
#: expected pair counts are Σ min(k, n_cand).
_IVFPQ_CAND_CTES = f"""WITH RECURSIVE {_km_cte_sql(_IVF_K, _IVF_ITERS)},
    dists AS (
      SELECT e.vec_id,
             list_transform((SELECT cents FROM fin), c ->
               list_sum(list_transform(range(1, len(c) + 1),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - c[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - c[i])))) AS ds
      FROM embeddings e
    ),
    cells AS (
      SELECT vec_id,
             CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER) AS cell
      FROM dists
    ),
    qprobe AS (
      SELECT query_id, cell FROM (
        SELECT query_id, i - 1 AS cell, d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, i) AS rn
        FROM (SELECT vec_id AS query_id,
                     unnest(range(1, len(ds) + 1)) AS i,
                     unnest(ds) AS d2
              FROM dists WHERE vec_id < {_N_QUERIES})
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    cellcounts AS (
      SELECT cell, COUNT(*) AS cnt FROM cells GROUP BY cell
    ),
    cand AS (
      SELECT q.query_id, SUM(cnt) - 1 AS n_cand
      FROM qprobe q JOIN cellcounts cc ON cc.cell = q.cell
      GROUP BY q.query_id
    )"""


@SIM.register(
    "ivfpq_selectivity_audit",
    oracle=f"""
    {_IVFPQ_CAND_CTES}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           CAST({_N_QUERIES * _TOP_K} AS BIGINT) AS n_report_pairs,
           (SELECT CAST(SUM(n_cand) AS BIGINT) FROM cand) AS n_candidates,
           TRUE AS candidates_restricted,
           TRUE AS recall_vs_exact_floor,
           TRUE AS adc_err_bounded
    """,
)
def ivfpq_selectivity_audit(spark, sf_dir):
    """IVF-PQ observability, landed in the same round as the operator —
    the envelope pattern's fifth application, but with a harder exact
    core than its siblings: `n_candidates` (the number of corpus vectors
    the index actually scores — Σ over queries of the probed cells'
    populations minus the query itself) is computed INDEPENDENTLY in
    both engines, Spark from the vectorized cell-assignment kernel +
    one 16-group count, DuckDB by replaying the whole coarse quantizer
    through the shared recursive-CTE Lloyd fold (the
    `similarity_ann_ivf` machinery, hash-green since round 7). The
    index's selectivity — the thing that makes IVF-PQ an index — is
    therefore a cross-engine-verified VALUE, not a pre-verified bucket:
    a probe-rule regression, a cell-assignment tie-rule drift, or a
    quantizer training change moves the number and the driver hash goes
    red. Next to it, the buckets measured on the real ADC scan:
    `candidates_restricted` (every reported neighbor's cell lies in its
    query's probe set), recall@10 vs exact >= 0.1 (measured
    0.42/0.50/0.20 across sf0.001-0.1), and residual-ADC cosine error
    bounded (max <= 0.5, mean <= 0.15; measured 0.21-0.25 / 0.064-0.072
    — ~2x tighter than raw-vector PQ, the measured payoff of residual
    encoding). `similarity_ann_ivfpq` itself stays rows-only by the PQ
    measurement; tests/test_ann.py pins its floors.

    Scale: cell assignment is one narrow map + a 16-group map-side-
    combined count; probe sets are driver-side numpy over nq vectors;
    the recall/ADC evidence reuses the operator's own scan plus the
    brute-force baseline (each corpus-linear, queries broadcast).
    Driver traffic: 16 count rows + 50 pairs + 4 scalars.
    """
    m = _ivfpq_audit_metrics(spark, sf_dir)
    return spark.createDataFrame(
        [
            (
                m["n_vectors"],
                m["n_report_pairs"],
                m["n_candidates"],
                m["candidates_restricted"],
                bool(m["recall"] >= _IVFPQ_RECALL_FLOOR),
                bool(
                    m["adc_err_max"] <= _IVFPQ_ADC_ERR_MAX_BOUND
                    and m["adc_err_mean"] <= _IVFPQ_ADC_ERR_MEAN_BOUND
                ),
            )
        ],
        "n_vectors bigint, n_report_pairs bigint, n_candidates bigint,"
        " candidates_restricted boolean, recall_vs_exact_floor boolean,"
        " adc_err_bounded boolean",
    )


def _ivfpq_audit_metrics(spark, sf_dir) -> dict:
    """Raw measured values behind `ivfpq_selectivity_audit`'s row — the
    `_pq_audit_metrics` pattern, so tests pin TIGHTER float thresholds
    than the shipped envelopes."""
    centroids, codebooks, cb_norm2, dim, dsub = _ivfpq_fit(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    cent_norm2 = (centroids ** 2).sum(axis=1)

    @F.pandas_udf("int")
    def nearest_cell(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy()).astype("float64")
        d2 = (
            (m ** 2).sum(axis=1, keepdims=True)
            - 2 * m @ centroids.T
            + cent_norm2[None, :]
        )
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    cell_frame = e.select(
        "vec_id", nearest_cell("embedding").alias("cell")
    ).localCheckpoint(eager=False)
    counts = {
        r["cell"]: r["cnt"]
        for r in cell_frame.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_vectors = sum(counts.values())

    qrows = sorted(
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qmat = np.vstack([r["embedding"] for r in qrows]).astype("float64")
    qd2 = (
        (qmat ** 2).sum(axis=1, keepdims=True)
        - 2 * qmat @ centroids.T
        + cent_norm2[None, :]
    )
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :_IVF_NPROBE]
    # the query's own cell is its nearest centroid = probe rank 0, so
    # each query's candidate count is its probed populations minus itself
    n_candidates = int(
        sum(
            sum(counts.get(int(c), 0) for c in probes[qi]) - 1
            for qi in range(len(qrows))
        )
    )

    pairs = (
        similarity_ann_ivfpq(spark, sf_dir)
        .select("query_id", "neighbor_id", "approx_cos")
        .localCheckpoint(eager=False)
    )
    n_pairs = pairs.count()

    # candidate restriction: the 50 reported neighbors' cells vs probes
    probe_sets = {
        int(qrows[qi]["vec_id"]): {int(c) for c in probes[qi]}
        for qi in range(len(qrows))
    }
    reported = (
        pairs.join(
            cell_frame, pairs["neighbor_id"] == cell_frame["vec_id"]
        )
        .select("query_id", "cell")
        .collect()
    )
    restricted = bool(
        len(reported) == n_pairs
        and all(r["cell"] in probe_sets[r["query_id"]] for r in reported)
    )

    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    matched = pairs.join(bf, ["query_id", "neighbor_id"]).count()
    recall = matched / n_pairs if n_pairs else 0.0

    nb = e.join(
        F.broadcast(pairs), e["vec_id"] == pairs["neighbor_id"]
    ).select("query_id", "approx_cos", e["embedding"].alias("ne"))
    qv = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    err_row = (
        qv.join(F.broadcast(nb), "query_id")
        .select(
            F.abs(
                F.col("approx_cos") - cosine(F.col("qe"), F.col("ne"))
            ).alias("err")
        )
        .agg(F.max("err").alias("mx"), F.avg("err").alias("av"))
        .first()
    )

    return {
        "n_vectors": int(n_vectors),
        "n_report_pairs": int(n_pairs),
        "n_candidates": n_candidates,
        "candidates_restricted": restricted,
        "recall": float(recall),
        "adc_err_max": float(err_row["mx"]),
        "adc_err_mean": float(err_row["av"]),
    }


_SD_K = 16  # k-means cells
_SD_ITERS = 5  # Lloyd iterations (full corpus, shared with the oracle CTE)
_SD_TAU = 0.35  # within-cell cosine above which the later vector is pruned


@SIM.register(
    "semdedup_prune",
    oracle=f"""
    WITH RECURSIVE {_km_cte_sql(_SD_K, _SD_ITERS)},
    dists AS (
      SELECT e.vec_id,
             list_transform((SELECT cents FROM fin), c ->
               list_sum(list_transform(range(1, len(c) + 1),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - c[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - c[i])))) AS ds
      FROM embeddings e
    ),
    cells AS (
      SELECT vec_id,
             CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER) AS cell
      FROM dists
    ),
    dropped AS (
      SELECT DISTINCT cb.vec_id
      FROM cells ca
      JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
      JOIN embeddings ea ON ea.vec_id = ca.vec_id
      JOIN embeddings eb ON eb.vec_id = cb.vec_id
      WHERE {_dd_cosine('ea.embedding', 'eb.embedding')} >= {_SD_TAU}
    )
    SELECT c.vec_id, c.cell,
           (d.vec_id IS NULL) AS keep
    FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
    """,
)
def semdedup_prune(spark, sf_dir):
    """SemDedup-style semantic deduplication: cluster the embedding space
    with k-means (k={16}, trained by the distributed deterministic Lloyd
    loop `ops.lloyd_centroids`, same as `similarity_ann_ivf`), then within
    each cell drop every vector that has a lower-id neighbor at cosine >=
    {0.35} — the keep-first greedy rule (drop b iff exists a < b in b's
    cell with cos(a, b) >= tau). Emits (vec_id, cell, keep); downstream
    curation filters on `keep`.

    This is the embedding-space sibling of `dedup_keep_canonical`: instead
    of an exact near-dup graph it uses cluster-local similarity, which is
    what makes it tractable at corpus scale — the quadratic term is
    per-cell (n/k)^2, not n^2, and cells shrink as k grows with the corpus.
    Clustering + greedy keep-first is the published SemDedup recipe; the
    deterministic min-id keeper stands in for the paper's
    farthest-from-centroid choice so reruns are reproducible.

    Scale: assignment is one map-side Pandas-UDF pass (centroids are
    broadcast constants); the candidate join shuffles on the cell id. At
    100 TB you'd raise k so cells stay bounded and feed the pair step the
    same way. Fully value-oracled since round 7: training replays via the
    shared recursive-CTE Lloyd fold, the prune rule as an anti-join; the
    prune rule is additionally verified against a numpy replay in
    tests/test_ann.py. Library form: :func:`..ops.semdedup`.
    """
    from ..ops import semdedup

    e = load_table(spark, sf_dir, "embeddings")
    centroids = _corpus_centroids(spark, sf_dir, _SD_K, _SD_ITERS)
    return semdedup(
        e, "vec_id", "embedding", k=_SD_K, tau=_SD_TAU, centroids=centroids
    )


# The recall report's oracle replays all three of its inputs — exact
# brute-force top-10, LSH top-10, IVF top-10 — from the SAME CTE
# fragments their own (hash-green since round 7) oracles are built from
# (_dd_cosine / _ANN_BANDS_CTE / _km_cte_sql), then computes matched/10
# in SQL. Composed flat rather than nesting the three full oracle
# strings so the single WITH RECURSIVE prefix covers the Lloyd fold.
_RECALL_ORACLE = f"""
    WITH RECURSIVE {_km_cte_sql(_IVF_K, _IVF_ITERS)},
    bf_q AS (SELECT vec_id AS query_id, embedding AS qe
             FROM embeddings WHERE vec_id < {_N_QUERIES}),
    bf_scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_dd_cosine('q.qe', 'e.embedding')} AS cos_sim
      FROM bf_q q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM bf_scored
      ) t WHERE rank <= {_TOP_K}
    ),
    bands AS ({_ANN_BANDS_CTE}),
    qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bands
           WHERE vec_id < {_N_QUERIES}),
    lsh_cand AS (
      SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
      FROM qb JOIN bands b
        ON b.tbl = qb.tbl AND b.bucket = qb.bucket
       AND b.vec_id <> qb.query_id
    ),
    lsh_scored AS (
      SELECT c.query_id, c.neighbor_id,
             {_dd_cosine('qv.embedding', 'e.embedding')} AS cos_sim
      FROM lsh_cand c
      JOIN embeddings qv ON qv.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.neighbor_id
    ),
    lsh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM lsh_scored
      ) t WHERE rank <= {_TOP_K}
    ),
    dists AS (
      SELECT e.vec_id,
             list_transform((SELECT cents FROM fin), c ->
               list_sum(list_transform(range(1, len(c) + 1),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - c[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - c[i])))) AS ds
      FROM embeddings e
    ),
    cells AS (
      SELECT vec_id,
             CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER) AS cell
      FROM dists
    ),
    qprobe AS (
      SELECT query_id, cell FROM (
        SELECT query_id, i - 1 AS cell, d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, i) AS rn
        FROM (SELECT vec_id AS query_id,
                     unnest(range(1, len(ds) + 1)) AS i,
                     unnest(ds) AS d2
              FROM dists WHERE vec_id < {_N_QUERIES})
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    ivf_cand AS (
      SELECT q.query_id, c.vec_id AS neighbor_id
      FROM qprobe q JOIN cells c
        ON c.cell = q.cell AND c.vec_id <> q.query_id
    ),
    ivf_scored AS (
      SELECT c.query_id, c.neighbor_id,
             {_dd_cosine('qv.embedding', 'e.embedding')} AS cos_sim
      FROM ivf_cand c
      JOIN embeddings qv ON qv.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.neighbor_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM ivf_scored
      ) t WHERE rank <= {_TOP_K}
    ),
    got AS (
      SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
      UNION ALL
      SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
    )
    SELECT e.query_id, m.method,
           COUNT(*) AS k,
           COUNT(g.neighbor_id) AS matched,
           CAST(COUNT(g.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_10
    FROM exact e
    CROSS JOIN (SELECT 'lsh' AS method UNION ALL SELECT 'ivf' AS method) m
    LEFT JOIN got g ON g.method = m.method
                   AND g.query_id = e.query_id
                   AND g.neighbor_id = e.neighbor_id
    GROUP BY e.query_id, m.method
    """


@SIM.register("similarity_recall_report", oracle=_RECALL_ORACLE)
def similarity_recall_report(spark, sf_dir):
    """ANN quality observability: recall@10 of the LSH and IVF indexes
    against the exact brute-force top-10, per query and per method — the
    dashboard row an embedding-retrieval deployment watches when tuning
    L/k/nprobe.

    Computed as a left join of the exact neighbor set onto each method's
    result set on (query_id, neighbor_id); recall = matched/10. Fully
    value-oracled since round 9 (the design written in round 8): the
    oracle CTEs the three already-hash-green replays — brute-force
    (`similarity_topk_bruteforce`), LSH (`similarity_ann_lsh`), IVF
    (`similarity_ann_ivf`) — and computes matched/10 in SQL. The PQ row
    moved OUT of this query to make that possible: PQ's trained codebook
    floats are engine-side, so its recall cannot replay in SQL; it stays
    floor-pinned in tests/test_ann.py::test_pq_recall_and_determinism,
    which computes it directly from `similarity_ann_pq` vs brute force.

    Scale: every input is already a top-10-per-query table (≤ 10·|queries|
    rows), so the joins here are on bounded frames — the report costs
    nothing next to the indexes it audits.
    """
    # the exact set joins against every method — checkpointed so the
    # brute-force subtree runs once, not twice; each method's top-k
    # (<= 10*|queries| rows) is likewise checkpointed so its index build
    # isn't replayed inside the fused plan (was 13 embeddings scans)
    exact = (
        similarity_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    methods = (
        ("lsh", similarity_ann_lsh),
        ("ivf", similarity_ann_ivf),
    )
    reports = []
    for name, fn in methods:
        got = (
            fn(spark, sf_dir)
            .select(
                F.col("query_id").alias("g_query"),
                F.col("neighbor_id").alias("g_nb"),
            )
            .localCheckpoint(eager=False)
        )
        matched = exact.join(
            got,
            (F.col("query_id") == F.col("g_query"))
            & (F.col("neighbor_id") == F.col("g_nb")),
            "left_outer",
        )
        reports.append(
            matched.groupBy("query_id").agg(
                F.lit(name).alias("method"),
                F.count(F.lit(1)).alias("k"),
                F.count("g_nb").alias("matched"),
                (F.count("g_nb").cast("double") / F.count(F.lit(1))).alias(
                    "recall_at_10"
                ),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.select("query_id", "method", "k", "matched", "recall_at_10")


_PCA_DIM = 64  # embeddings table dimension (TESTDATA.md)
_PCA_COMPONENTS = 4


def _pca_fit(spark, sf_dir):
    """The shared PCA dataflow (see `embedding_pca_components` for the
    scale design): distributed count/colsum/Gram partials → d²-bounded
    driver collect → covariance → power iteration with deflation.
    Returns (n_total, total_var, comps, eigs)."""
    d = load_table(spark, sf_dir, "embeddings")

    def gram_batches(it):
        for pdf in it:
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(x) == 0:
                continue
            # one combined partial per batch: [count, colsum, gram] — a
            # single array so the whole reduction is ONE explode + ONE
            # map-side-combined aggregation (three separate columns would
            # mean three actions, each re-running this pass).
            part = np.concatenate(
                ([float(len(x))], x.sum(axis=0), (x.T @ x).ravel())
            )
            yield pd.DataFrame({"part": [part.tolist()]})

    partials = d.select("embedding").mapInPandas(
        gram_batches, "part array<double>"
    )
    sums = (
        exploded_rows_pos(partials, [], F.col("part"), "idx", "v")
        .groupBy("idx")
        .agg(F.sum("v").alias("s"))
    )
    flat = np.zeros(1 + _PCA_DIM + _PCA_DIM * _PCA_DIM)
    for r in sums.collect():  # bounded: 1 + d + d² rows
        flat[r["idx"]] = r["s"]
    n_total = flat[0]
    mu = flat[1 : 1 + _PCA_DIM] / n_total
    g = flat[1 + _PCA_DIM :]
    cov = g.reshape(_PCA_DIM, _PCA_DIM) / n_total - np.outer(mu, mu)
    total_var = float(np.trace(cov))

    # power iteration with deflation — deterministic start (ones/sqrt(d))
    comps, eigs = [], []
    a = cov.copy()
    for _ in range(_PCA_COMPONENTS):
        v = np.ones(_PCA_DIM) / np.sqrt(_PCA_DIM)
        for _ in range(200):
            w = a @ v
            nrm = np.linalg.norm(w)
            if nrm == 0:
                break
            v = w / nrm
        lam = float(v @ a @ v)
        # sign convention: largest-|loading| entry positive
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        comps.append(v)
        eigs.append(lam)
        a = a - lam * np.outer(v, v)
    return n_total, total_var, comps, eigs


@SIM.register("embedding_pca_components", oracle=None)
def embedding_pca_components(spark, sf_dir):
    """Distributed PCA over the embedding corpus: top principal components
    via exact-shape two-phase covariance accumulation + driver-side power
    iteration — the dimensionality-reduction stage in front of semantic
    dedup / clustering at scale (project 64-d → 4-d, then bucket), and the
    standard corpus-drift diagnostic (eigenvalue spectrum).

    The scale design is the point. Phase 1 (``mapInPandas``): each Arrow
    batch contributes ONE row — its count, d-element column sum, and
    flattened d×d Gram partial (numpy matmul, vectorized) — so executor→
    shuffle volume is O(#batches × d²), independent of corpus size. Phase
    2: posexplode those partial arrays to (idx, v) and sum per idx with
    map-side combine — a 4096-group aggregation, never a driver-side
    merge of batches. Only the final d×d matrix (one bounded collect of
    d² sums) reaches the driver, where power iteration + deflation on a
    64×64 matrix is microseconds. Output: (component, dim, loading,
    eigenvalue, explained_frac) — d×k rows.

    No oracle — and measurably cannot have one (round-6 study): the
    embedding covariance spectrum is nearly flat (λ2/λ1 ≈ 0.987 at
    sf0.01, 0.983 at sf0.1; top-4 gaps 2-10e-4), so 200 power iterations
    sit far from convergence ((0.99)^200 ≈ 0.13) and the ~1e-13
    reduce-order noise in the Gram totals amplifies through the
    iteration path and deflation to ~1e-10 on the UNROUNDED loadings —
    a hash-exact cross-engine compare would flip at the few-percent
    level per run, and rounding coarsely enough to absorb it (5
    decimals) would destroy the loading fidelity the query exists to
    report. Contrast `kmeans_embedding_clusters`/`neardup_graph_pagerank`
    (upgraded round 6), whose outputs are tie-gated or quantized with
    orders-of-magnitude margin. The driver records rows-only;
    tests/test_pca.py pins loadings against numpy's exact
    eigendecomposition (|cos| alignment per component, eigenvalue rtol)
    and fixes the sign convention (largest-|loading| entry positive).
    """
    _, total_var, comps, eigs = _pca_fit(spark, sf_dir)

    rows = [
        (c, dim, float(comps[c][dim]), eigs[c], eigs[c] / total_var)
        for c in range(_PCA_COMPONENTS)
        for dim in range(_PCA_DIM)
    ]
    return spark.createDataFrame(
        rows,
        "component int, dim int, loading double, eigenvalue double,"
        " explained_frac double",
    )


@SIM.register(
    "pca_variance_report",
    oracle=f"""
    WITH flat AS (
      SELECT i - 1 AS dim,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
    ), dimvar AS (
      SELECT dim,
             (COUNT(*) * CAST(SUM(CAST(x AS DECIMAL(18,12))
                                  * CAST(x AS DECIMAL(18,12))) AS DOUBLE)
              - CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                * CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE))
             / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)) AS var
      FROM flat GROUP BY dim
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           round(SUM(var), 6) AS total_var,
           TRUE AS components_near_orthonormal,
           TRUE AS topk_var_in_bracket
    FROM dimvar
    """,
)
def pca_variance_report(spark, sf_dir):
    """PCA observability (round-10 oracle upgrade for the PCA family):
    the round-6 study showed `embedding_pca_components`' raw loadings
    CANNOT be value-oracled (near-flat spectrum + ~1e-13 reduce-order
    noise amplifies to percent-level loading differences), so — the
    sketch-report envelope pattern — this sibling reports what IS
    cross-engine exact next to buckets whose truth the Spark side
    measures on the real fitted components: `total_var` (the covariance
    trace; the oracle recomputes it as the sum of per-dim variances from
    DECIMAL-exact moments, the `embedding_dim_profile` precedent, and
    the float64 Gram path agrees to ~1e-12 ≪ the round-6 grain),
    `components_near_orthonormal` (max |vi·vj − δij| ≤ 0.05: deflation
    under this NEAR-FLAT spectrum leaves genuinely non-orthogonal
    iterates — measured 1.6e-4 / 1.3e-3 / 7.3e-3 at sf0.001/0.01/0.1,
    so 0.05 is a ≥7× envelope in the HLL-5%-bound tradition, while a
    real normalization/deflation bug produces O(1) error and flips
    it), and
    `topk_var_in_bracket` (k/d·total ≤ Σλ ≤ total — the top-k average
    can never sit below the overall average, and captured variance can
    never exceed the trace; measured Σλ sits 1.3-1.7× above the lower
    bound across sfs; an eigenvalue-scale bug flips it). A Gram
    accumulation bug (wrong count, bad mean subtraction) moves
    `total_var` itself and the driver hash goes red — the PCA family's
    first driver VALUE check; the loadings stay rows-only by
    measurement, pinned against numpy in tests/test_pca.py.

    Scale: identical dataflow to `embedding_pca_components` (shared
    `_pca_fit`): O(#batches × d²) shuffle volume, d²-bounded driver
    collect, driver-side 64×64 iteration; output is one scalar row.
    """
    n_total, total_var, comps, eigs = _pca_fit(spark, sf_dir)
    vmat = np.stack(comps)
    gram = vmat @ vmat.T
    ortho_err = float(np.max(np.abs(gram - np.eye(len(comps)))))
    topk = float(sum(eigs))
    k, dd = _PCA_COMPONENTS, _PCA_DIM
    in_bracket = (
        topk >= (k / dd) * total_var - 1e-9
        and topk <= total_var + 1e-9
    )
    # F.round (HALF_UP ≡ DuckDB round on positives), not Python's
    # banker's round — the repo-wide tie discipline
    return spark.createDataFrame(
        [
            (
                int(n_total),
                total_var,
                bool(ortho_err <= 0.05),
                bool(in_bracket),
            )
        ],
        "n_vectors bigint, total_var double,"
        " components_near_orthonormal boolean,"
        " topk_var_in_bracket boolean",
    ).withColumn("total_var", F.round(F.col("total_var"), 6))


_KM_K = 8  # cluster count
_KM_ITERS = 5  # Lloyd iterations over the FULL corpus


@SIM.register(
    "kmeans_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE {_km_cte_sql(_KM_K, _KM_ITERS)}, assigned AS (
      SELECT list_position(ds, list_min(ds)) AS cl,
             list_min(ds) AS d2
      FROM (
        SELECT list_transform(cents, c ->
                 list_sum(list_transform(range(1, len(c) + 1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - c[i])))) AS ds
        FROM embeddings e, fin
      )
    )
    SELECT CAST(cl - 1 AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           round(SUM(d2), 4) AS inertia,
           round(sqrt(list_sum(list_transform(
             (SELECT cents FROM fin)[cl], x -> x * x))), 6) AS centroid_norm
    FROM assigned
    GROUP BY cl
    ORDER BY cluster
    """,
)
def kmeans_embedding_clusters(spark, sf_dir):
    """Fully-DISTRIBUTED Lloyd's k-means over every embedding — the
    complement of `similarity_ann_ivf`'s bounded-sample trainer: when the
    clustering IS the product (corpus bucketing for semantic dedup shards,
    curriculum tiers, mixture domains), you train on all vectors, not a
    sample. k=8, 5 iterations, deterministic init (the k lowest vec_ids).

    Distributed shape per iteration — the canonical scalable k-means (what
    MLlib's implementation reduces to): centroids are a broadcast k×d
    constant inside a vectorized Pandas UDF (one matmul per Arrow batch)
    that emits each row's nearest cluster; the update is one
    explode-to-(cluster, dim, val) + groupBy(cluster, dim) sum/count with
    map-side combine, so the shuffle carries k·d·partitions partial rows —
    independent of corpus size — and only the k×d centroid table ever
    reaches the driver. Per-vector state never accumulates anywhere.

    Output: one row per cluster with member count, within-cluster sum of
    squared distance (inertia), and centroid norm.

    Oracle (round-6 upgrade, rows-only -> full value check): the whole
    Lloyd run re-runs inside DuckDB as a recursive-CTE fold over packed
    lists — the corpus as one list-of-vectors row, centroids as a
    k-element list of lists, each iteration one `list_transform` that
    assigns every point to its argmin cluster (`list_position` of
    `list_min` = numpy argmin's lowest-index tie rule) and re-averages
    per dim, empty clusters keeping their previous centroid — the
    pagerank recursive-fold precedent applied to Lloyd's recurrence.
    Cross-engine float risk is gated by genuine near-ties, not rounding:
    an assignment can only flip if two centroids are within reduce-order
    noise (~1e-13) of EQUIDISTANT from a point, and the emitted inertia
    (round 4) / centroid_norm (round 6) absorb trailing-ulp sum
    differences outright. Value-exact at sf0.001/0.01/0.1.
    tests/test_kmeans.py additionally pins counts and inertia against a
    dense numpy Lloyd run with identical init and iteration count.
    """
    from ..ops import lloyd_kmeans

    e = load_table(spark, sf_dir, "embeddings")
    assigned = lloyd_kmeans(
        e, "vec_id", "embedding", k=_KM_K, iterations=_KM_ITERS
    )
    return (
        assigned.groupBy("cluster", "centroid_norm")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("d2"), 4).alias("inertia"),
        )
        .select("cluster", "n_members", "inertia", "centroid_norm")
        .orderBy("cluster")
    )


@SIM.register(
    "embedding_dim_profile",
    oracle="""
    WITH flat AS (
      SELECT i - 1 AS dim,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
    )
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                 / COUNT(*), 9) AS mean,
           round(sqrt((COUNT(*) * CAST(SUM(CAST(x AS DECIMAL(18,12))
                                           * CAST(x AS DECIMAL(18,12)))
                                       AS DOUBLE)
                       - CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                         * CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE))
                      / (CAST(COUNT(*) AS DOUBLE) * COUNT(*))), 9) AS std,
           MIN(x) AS vmin, MAX(x) AS vmax
    FROM flat GROUP BY dim
    """,
)
def embedding_dim_profile(spark, sf_dir):
    """Per-DIMENSION corpus profile of the embedding space: mean, std,
    min, max for each of the d dimensions — the feature-drift /
    dead-dimension monitor run before similarity infra is trusted (a
    near-zero-variance dimension wastes index bits; a shifted mean breaks
    cosine assumptions between corpus snapshots). Complements
    `embedding_array_stats`, which profiles per VECTOR.

    Determinism: each float32 is widened to double (exact) and cast once
    to DECIMAL(18,12) — a decimal tie would need a trailing 5×10⁻¹³
    fraction, which no binary float can represent, so both engines round
    identically and the Σx / Σx² moments are EXACT order-independent
    decimals; mean/std are single closed-form double expressions over
    them, rounded to 9. Scale: explode to (dim, x) then ONE
    map-side-combined groupBy(dim) — the shuffle carries d×partitions
    partial rows, independent of corpus size.
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = exploded_rows_pos(
        e,
        [],
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        "dim",
        "x",
    )
    dx = F.col("x").cast("decimal(18,12)")
    n = F.count(F.lit(1))
    sx = F.sum(dx).cast("double")
    sxx = F.sum(dx * dx).cast("double")
    return flat.groupBy("dim").agg(
        n.alias("n"),
        F.round(sx / n, 9).alias("mean"),
        F.round(
            F.sqrt((n * sxx - sx * sx) / (n.cast("double") * n)), 9
        ).alias("std"),
        F.min("x").alias("vmin"),
        F.max("x").alias("vmax"),
    )


@SIM.register(
    "embedding_int8_quantize_audit",
    oracle=f"""
    WITH dims AS (
      SELECT i - 1 AS dim,
             MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
             MAX(CAST(embedding[i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
      GROUP BY i
    ), packed AS (
      SELECT (SELECT list(mn ORDER BY dim) FROM dims) AS mns,
             (SELECT list(mx ORDER BY dim) FROM dims) AS mxs
    ), deqd AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> CAST(embedding[i] AS DOUBLE)) AS dv,
             list_transform(generate_series(1, len(embedding)),
               i -> CASE WHEN (mxs[i] - mns[i]) / 255.0 > 0
                      THEN mns[i]
                           + round((CAST(embedding[i] AS DOUBLE) - mns[i])
                                   / ((mxs[i] - mns[i]) / 255.0))
                             * ((mxs[i] - mns[i]) / 255.0)
                      ELSE mns[i] END) AS deq
      FROM embeddings, packed
    ), diffs AS (
      SELECT vec_id, dv, deq,
             list_transform(generate_series(1, len(dv)),
                            i -> dv[i] - deq[i]) AS dif
      FROM deqd
    )
    SELECT vec_id,
           round(list_max(list_transform(dif, x -> abs(x))), 9)
             AS max_abs_err,
           round({_DD_DOT.format(a="dif", b="dif")} / len(dif), 9) AS mse,
           round({_dd_cosine("dv", "deq")}, 9) AS cos_dequant
    FROM diffs
    """,
)
def embedding_int8_quantize_audit(spark, sf_dir):
    """Int8 affine quantization of the embedding corpus with a per-vector
    dequantization-error audit — the vector-compression stage a 100 TB
    ANN deployment runs before swapping float32 for int8 (4× memory /
    bandwidth, the difference between an index that fits executor RAM
    and one that spills): per DIMENSION, the corpus min/max define an
    affine code `round((x - mn) / scale)` with `scale = (mx - mn)/255`;
    the audit dequantizes and reports, per vector, the max absolute
    element error, the MSE, and the cosine between the original and the
    dequantized vector — the numbers that justify (or veto) serving ANN
    from the int8 index. Constant dimensions (scale 0) encode as code 0
    and dequantize to `mn` exactly, in both engines.

    Determinism: per-dim min/max are exact over any aggregation order;
    float32 widens to double exactly; code/dequant are single closed-form
    double expressions evaluated identically in both engines (the round
    argument is non-negative, where Spark HALF_UP ≡ DuckDB
    half-away-from-zero); MSE/cosine use the module's sequential
    left-fold discipline (`_DD_DOT`) so element order matches Spark's
    `F.aggregate`, with round-9 on top. The cosine is NULL-guarded per
    `cosine_from` (ANSI divide-by-zero).

    Scale: ONE map-side-combined groupBy(dim) whose shuffle carries
    d×partitions partial rows (corpus-size-independent), a d-bounded
    driver collect (the PCA/ALS/SemDedup precedent), then ONE narrow
    map with the d-entry min/max literals baked into the plan — no
    joins, no second shuffle, embarrassingly parallel at any corpus
    size. The same literals are what you'd broadcast to write the int8
    codes themselves as the index artifact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dv_expr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    flat = exploded_rows_pos(e, [], dv_expr, "dim", "x")
    stats = (
        flat.groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mn = {r["dim"]: r["mn"] for r in stats}
    mx = {r["dim"]: r["mx"] for r in stats}
    d = len(stats)
    mns = F.array(*[F.lit(mn[i]) for i in range(d)])
    mxs = F.array(*[F.lit(mx[i]) for i in range(d)])

    def deq_el(x, i):
        mn_el = F.element_at(mns, i + 1)
        scale = (F.element_at(mxs, i + 1) - mn_el) / F.lit(255.0)
        code = F.when(
            scale > 0, F.round((x.cast("double") - mn_el) / scale)
        ).otherwise(F.lit(0.0))
        return mn_el + code * scale

    base = e.select(
        "vec_id",
        dv_expr.alias("dv"),
        F.transform(F.col("embedding"), deq_el).alias("deq"),
    ).withColumn("dif", F.zip_with("dv", "deq", lambda x, y: x - y))
    return base.select(
        "vec_id",
        F.round(
            F.array_max(F.transform("dif", F.abs)), 9
        ).alias("max_abs_err"),
        F.round(
            dot(F.col("dif"), F.col("dif")) / F.size("dif"), 9
        ).alias("mse"),
        F.round(cosine(F.col("dv"), F.col("deq")), 9).alias("cos_dequant"),
    )


_ALS_RANK = 4  # latent factor dimension
_ALS_REG = 0.1  # ridge regularization lambda


def _als_item_init(n_items: int) -> np.ndarray:
    """Deterministic item-factor init: md5-derived uniforms in [0, 1) —
    no RNG state, reproducible across engines/runs/partitionings."""
    import hashlib

    vals = []
    for i in range(n_items):
        for d in range(_ALS_RANK):
            h = hashlib.md5(f"als:{i}:{d}".encode()).hexdigest()
            vals.append(int(h[:15], 16) / float(1 << 60))
    return np.array(vals).reshape(n_items, _ALS_RANK)


@session_memo("lineitem", "orders", "part")
def _als_sweep(spark, sf_dir):
    """The shared one-sweep ALS dataflow (see `als_one_sweep_factors`
    for the distributed design): ratings matrix -> batched per-user
    ridge solves against broadcast item factors -> map-side-combined
    per-item Gram reduction -> driver-side item re-solve -> observed-
    entry RMSE. Returns (rated, brands, n_raters, per_item,
    total_n, rmse, y_new) — `rated` is the CHECKPOINTED
    (user, item, r) frame, safe to re-aggregate without re-running the
    ratings join.

    Session-memoized over all three input tables (lineitem, orders and
    part all feed the ratings join): als_one_sweep_factors and
    als_convergence_report both consume the sweep, and before r11 each
    re-ran it (user-step mapInPandas, item-step shuffle, RMSE join). The
    result tuple is session-safe to share: `rated` is a localCheckpoint
    (lives for the Spark application), the rest are driver-side
    values."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    ratings = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("o_custkey").alias("user"), F.col("p_brand").alias("brand")
        )
        .agg(F.count_distinct("o_orderkey").alias("r"))
    )
    brands = sorted(
        r["brand"] for r in ratings.select("brand").distinct().collect()
    )
    b_idx = {b: i for i, b in enumerate(brands)}
    n_items = len(brands)
    y = _als_item_init(n_items)

    idx_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(b) for b in brands]),
            F.array(*[F.lit(i) for i in range(n_items)]),
        ),
        F.col("brand"),
    )
    rated = ratings.select(
        "user", idx_expr.alias("item"), F.col("r").cast("double").alias("r")
    ).localCheckpoint(eager=False)

    # ---- user step: batched per-user ridge solve against broadcast y ----
    per_user = rated.groupBy("user").agg(
        F.array_sort(
            F.collect_list(F.struct("item", "r"))
        ).alias("obs")
    )

    def solve_users(it):
        lam = _ALS_REG
        eye = np.eye(_ALS_RANK)
        for pdf in it:
            out_u, out_x = [], []
            for user, obs in zip(pdf["user"], pdf["obs"]):
                items = np.array([int(t["item"]) for t in obs])
                rs = np.array([float(t["r"]) for t in obs])
                yi = y[items]  # (m, d)
                a = yi.T @ yi + lam * len(items) * eye
                b = yi.T @ rs
                out_u.append(user)
                out_x.append(np.linalg.solve(a, b))
            yield pd.DataFrame(
                {"user": out_u, "x": [v.tolist() for v in out_x]}
            )

    x_df = per_user.mapInPandas(
        solve_users, "user long, x array<double>"
    ).localCheckpoint(eager=False)

    # ---- item step: per-rating Gram/rhs contributions, one groupBy ----
    d = _ALS_RANK
    joined = rated.join(x_df, "user")
    contrib_expr = F.expr(
        f"""flatten(transform(sequence(0, {d - 1}, 1), i ->
             transform(sequence(0, {d - 1}, 1), j ->
               element_at(x, i + 1) * element_at(x, j + 1))))"""
    )
    rhs_expr = F.expr(
        f"transform(sequence(0, {d - 1}, 1), i -> element_at(x, i + 1) * r)"
    )
    flat = exploded_rows_pos(
        joined.select(
            "item", F.concat(contrib_expr, rhs_expr).alias("__c")
        ),
        ["item"],
        F.col("__c"),
        "cidx",
        "val",
    )
    sums = (
        flat.groupBy("item", "cidx")
        .agg(F.sum("val").alias("s"))
        .collect()
    )
    n_raters = {
        r["item"]: r["n"]
        for r in rated.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    grams = np.zeros((n_items, d, d))
    rhs = np.zeros((n_items, d))
    for r in sums:
        i, c = r["item"], r["cidx"]
        if c < d * d:
            grams[i, c // d, c % d] = r["s"]
        else:
            rhs[i, c - d * d] = r["s"]
    y_new = np.zeros_like(y)
    for i in range(n_items):
        a = grams[i] + _ALS_REG * n_raters.get(i, 0) * np.eye(d)
        y_new[i] = np.linalg.solve(a, rhs[i]) if n_raters.get(i) else y[i]

    # ---- RMSE of the swept model over observed entries ----
    y_flat = [float(v) for row in y_new for v in row]
    y_col = F.array(*[F.lit(v) for v in y_flat])
    pred = F.expr(
        f"""aggregate(transform(sequence(0, {d - 1}, 1), i ->
              element_at(x, i + 1)
              * element_at(__y, item * {d} + i + 1)),
            cast(0.0 as double), (acc, v) -> acc + v)"""
    )
    err = joined.withColumn("__y", y_col).select(
        "item", ((F.col("r") - pred) * (F.col("r") - pred)).alias("se")
    )
    per_item = {
        r["item"]: (r["sse"], r["n"])
        for r in err.groupBy("item")
        .agg(F.sum("se").alias("sse"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total_sse = sum(v[0] for v in per_item.values())
    total_n = sum(v[1] for v in per_item.values())
    rmse = float(np.sqrt(total_sse / total_n))
    # rated (not ratings) goes back to callers: it is the checkpointed
    # frame, so a consumer aggregating over it reuses the materialized
    # join instead of re-running lineitem⋈orders⋈part a third time
    # (r10 second-pass review)
    return rated, brands, n_raters, per_item, total_n, rmse, y_new


@SIM.register("als_one_sweep_factors", oracle=None)
def als_one_sweep_factors(spark, sf_dir):
    """One full ALS sweep (the MLlib marquee algorithm re-expressed on the
    DataFrame API): explicit-feedback alternating least squares over the
    customer × brand purchase-count matrix — solve every user factor
    against fixed item factors, then re-solve every item factor against
    the new user factors. Output: per-brand factor norms, rater counts,
    and the observed-entry RMSE of the resulting model.

    Distributed shape (what makes ALS scale on Spark):
    * USER step: item factors are a tiny broadcast k×d constant inside a
      `mapInPandas` batch solver — each Arrow batch assembles its users'
      d×d normal equations and solves them with ONE batched
      `np.linalg.solve`; per-user rating lists arrive via a single
      user-keyed shuffle (collect_list sorted by item for deterministic
      accumulation order).
    * ITEM step: the reduction Σᵤ xᵤxᵤᵀ per item must aggregate over
      millions of users, so state cannot live per-task: each rating row
      emits its d²+d Gram/rhs contributions, and ONE map-side-combined
      groupBy((item, coeff_idx)) sums them — the shuffle carries
      |items|·(d²+d)·partitions rows, independent of user count (the
      same batch-Gram trick as `embedding_pca_components`). Only the
      |items|×(d²+d) solved table ever reaches the driver.
    * RMSE: one join of ratings against both factor tables, one scalar
      aggregate.

    Rows-only, for the same measured reason as `embedding_pca_components`
    (round-6 study): each user/item factor is the solution of a d×d
    linear system, and `np.linalg.solve`'s pivoted-LU arithmetic has no
    DuckDB-replicable counterpart — a recursive-CTE Gaussian elimination
    would make different pivot/summation choices, and the solve
    amplifies those ulp differences by the normal-matrix condition
    number, putting cross-engine drift above any rounding fine enough to
    keep the factor norms meaningful. tests/test_als.py pins factors and
    RMSE against a dense numpy replication with identical init,
    ordering, and regularization.
    """
    _, brands, n_raters, per_item, _, rmse, y_new = _als_sweep(
        spark, sf_dir
    )
    n_items = len(brands)
    rows = [
        (
            brands[i],
            int(n_raters.get(i, 0)),
            round(float(np.sqrt((y_new[i] ** 2).sum())), 6),
            round(float(np.sqrt(per_item[i][0] / per_item[i][1])), 6)
            if i in per_item
            else None,
            round(rmse, 6),
        )
        for i in range(n_items)
    ]
    return spark.createDataFrame(
        rows,
        "brand string, n_raters long, factor_norm double,"
        " item_rmse double, global_rmse double",
    )


@SIM.register(
    "als_convergence_report",
    oracle="""
    WITH ratings AS (
      SELECT o_custkey AS u, p_brand AS b,
             COUNT(DISTINCT o_orderkey) AS r
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY o_custkey, p_brand
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ratings,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_items,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           round(sqrt((COUNT(*) * CAST(SUM(r * r) AS DOUBLE)
                       - CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE))
                      / (CAST(COUNT(*) AS DOUBLE) * COUNT(*))), 9)
             AS baseline_rmse,
           TRUE AS model_beats_baseline,
           TRUE AS factor_norms_bounded
    FROM ratings
    """,
)
def als_convergence_report(spark, sf_dir):
    """ALS observability (round-10 oracle upgrade for the ALS family):
    `als_one_sweep_factors` is rows-only by the round-6 measurement
    (pivoted-LU solves have no DuckDB counterpart), so — the
    sketch-report envelope pattern — this sibling reports what IS
    cross-engine exact next to buckets the Spark side measures on the
    real swept model: the exact rating-matrix shape (`n_ratings`,
    `n_users`, `n_items`, `sum_r` — all integer aggregates) and the
    global-mean predictor's RMSE (`baseline_rmse`, closed-form from
    exact integer moments, rounded to 9 — the `embedding_dim_profile`
    discipline), plus `model_beats_baseline` (one ALS sweep must out-
    predict the constant global mean on observed entries — measured
    ratio 0.81/0.86/0.87 at sf0.001/0.01/0.1, a 13-19% margin; a broken
    solve collapses to >= baseline and flips it) and
    `factor_norms_bounded` (max item-factor norm <= 10 vs measured
    <= 2.05 — an ill-conditioned/exploding solve flips it). A ratings-
    assembly bug moves the exact columns themselves — the ALS family's
    first driver VALUE check; factors and RMSE stay numpy-pinned in
    tests/test_als.py.

    Scale: identical dataflow to `als_one_sweep_factors` (shared
    `_als_sweep`) plus one scalar aggregate over the ratings frame;
    output is a single row. Deliberately NOT benched, like the sweep
    itself (multi-stage driver-coordinated linear algebra is stage-
    scheduling-bound at sf0.1).
    """
    import math

    rated, brands, n_raters, per_item, total_n, rmse, y_new = (
        _als_sweep(spark, sf_dir)
    )
    # rated is the checkpointed (user, item, r) frame — this aggregate
    # reuses the materialized join instead of re-running it. r holds
    # small integer counts stored as double, so Σr and Σr² are exact.
    s = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user").alias("nu"),
        F.countDistinct("item").alias("nb"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    ).first()
    n, sr, srr = s["n"], int(s["sr"]), s["srr"]
    baseline = math.sqrt(
        (n * float(srr) - float(sr) * float(sr)) / (float(n) * n)
    )
    max_norm = float(np.sqrt((y_new**2).sum(axis=1)).max())
    return spark.createDataFrame(
        [
            (
                int(n),
                int(s["nu"]),
                int(s["nb"]),
                int(sr),
                baseline,
                bool(rmse < baseline),
                bool(max_norm <= 10.0),
            )
        ],
        "n_ratings bigint, n_users bigint, n_items bigint, sum_r bigint,"
        " baseline_rmse double, model_beats_baseline boolean,"
        " factor_norms_bounded boolean",
    ).withColumn("baseline_rmse", F.round(F.col("baseline_rmse"), 9))


_DBSCAN_MIN_NBRS = 3  # core point: >= this many eps-neighbors (self excluded)


@SIM.register(
    "dbscan_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE bands AS ({_ND_BANDS_CTE}),
    cand AS (
      SELECT DISTINCT a.vec_id AS u, b.vec_id AS v
      FROM bands a JOIN bands b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), pairs AS (
      SELECT c.u, c.v
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.u
      JOIN embeddings b ON b.vec_id = c.v
      WHERE {_dd_cosine('a.embedding', 'b.embedding')} >= {_ND_THRESHOLD}
    ), edges AS (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ), deg AS (
      SELECT u AS vec_id, COUNT(*) AS deg FROM edges GROUP BY u
    ), core AS (
      SELECT vec_id FROM deg WHERE deg >= {_DBSCAN_MIN_NBRS}
    ), core_edges AS (
      SELECT e.u, e.v FROM edges e
      JOIN core cu ON cu.vec_id = e.u
      JOIN core cv ON cv.vec_id = e.v
    ), reach(u, v) AS (
      SELECT vec_id, vec_id FROM core
      UNION
      SELECT r.u, e.v FROM reach r JOIN core_edges e ON r.v = e.u
    ), labels AS (
      SELECT u AS vec_id, MIN(v) AS cluster_id FROM reach GROUP BY u
    ), border AS (
      SELECT e.u AS vec_id, MIN(l.cluster_id) AS cluster_id
      FROM edges e JOIN labels l ON l.vec_id = e.v
      WHERE e.u NOT IN (SELECT vec_id FROM core)
      GROUP BY e.u
    )
    SELECT em.vec_id,
           CASE WHEN l.cluster_id IS NOT NULL THEN 'core'
                WHEN b.cluster_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(l.cluster_id, b.cluster_id, -1) AS BIGINT)
             AS cluster_id
    FROM embeddings em
    LEFT JOIN labels l ON l.vec_id = em.vec_id
    LEFT JOIN border b ON b.vec_id = em.vec_id
    """,
)
def dbscan_embedding_clusters(spark, sf_dir):
    """Density-based clustering (DBSCAN) over the embedding space: core
    points have ≥ {3} eps-neighbors (cosine ≥ {0.25} over the sign-LSH
    candidate graph — the same bucketed eps-graph `embedding_neardup_pairs`
    builds, which IS the scale path: exact eps-neighborhoods at 100 TB are
    a cross join), clusters are connected components of the core-core
    subgraph, non-core points bordering a cluster attach to it (min
    cluster id when several), everything else is noise. Unlike k-means
    (`kmeans_embedding_clusters`), no k is chosen and irregular/elongated
    density regions emerge naturally; noise is first-class.

    Scale: candidate edges from the banded LSH self-join (n²/2^K per
    band, never a cross join), degree/core as one aggregation, the CC
    fixpoint from `ops.connected_components` (edge contraction +
    localCheckpoint per round), and two bounded joins for borders. The
    whole dataflow — including the LSH bucketing — is replayed by the
    DuckDB oracle with a recursive CTE, so the driver value-hashes every
    role and cluster assignment.
    """
    from ..ops import dbscan_labels

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(spark, sf_dir)
    return dbscan_labels(
        e, "vec_id", pairs, "vec_a", "vec_b",
        min_neighbors=_DBSCAN_MIN_NBRS,
    )
