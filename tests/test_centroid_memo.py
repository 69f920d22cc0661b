"""The session-scoped Lloyd-centroid memo (similarity._corpus_centroids)
must invalidate when the embeddings table's content changes under the same
path — the stale-green class the repo's NTZ incident documents (a memo
keyed on path alone would silently serve centroids from the previous
testdata generation).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from data_to_parquet_spark.operators import similarity as sim


def _write_embeddings(spark, root: str, scale: float) -> None:
    rows = [
        (i, "a", [float(scale * (i + j + 1)) for j in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    tmp = os.path.join(root, "_tmp_write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    dst = os.path.join(root, "embeddings.parquet")
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(tmp, dst)


def test_memo_reuses_within_one_generation(spark, tmp_path):
    root = str(tmp_path)
    _write_embeddings(spark, root, scale=1.0)
    sim._corpus_centroids.memo.clear()
    c1 = sim._corpus_centroids(spark, root, k=3, iterations=2)
    c2 = sim._corpus_centroids(spark, root, k=3, iterations=2)
    assert c1 is c2  # same object: served from the memo
    assert len(sim._corpus_centroids.memo) == 1


def test_memo_invalidates_when_table_regenerates(spark, tmp_path):
    root = str(tmp_path)
    _write_embeddings(spark, root, scale=1.0)
    sim._corpus_centroids.memo.clear()
    c1 = sim._corpus_centroids(spark, root, k=3, iterations=2)
    # regenerate the table in place with different content; ensure the
    # directory mtime moves even on coarse-grained filesystems
    time.sleep(0.05)
    _write_embeddings(spark, root, scale=2.0)
    c2 = sim._corpus_centroids(spark, root, k=3, iterations=2)
    assert not np.array_equal(c1, c2), (
        "memo served centroids trained on the previous generation of "
        "the embeddings table"
    )


def test_local_and_distributed_training_agree(spark):
    """The adaptive local path and the distributed loop implement the same
    arithmetic; on real testdata their centroids must agree to ulp scale
    and induce identical assignments (the discrete quantity the oracles
    depend on)."""
    from data_to_parquet_spark.ops import lloyd_centroids

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    local, _ = lloyd_centroids(e, "vec_id", "embedding", k=16, iterations=5)
    dist, _ = lloyd_centroids(
        e, "vec_id", "embedding", k=16, iterations=5, local_max=0
    )
    assert local.shape == dist.shape
    np.testing.assert_allclose(local, dist, rtol=1e-9, atol=1e-9)

    rows = sorted(
        e.collect(), key=lambda r: r["vec_id"]
    )
    mat = np.vstack([r["embedding"] for r in rows]).astype("float64")

    def assigns(cents):
        d2 = (
            (mat**2).sum(axis=1, keepdims=True)
            - 2 * mat @ cents.T
            + (cents**2).sum(axis=1)[None, :]
        )
        return d2.argmin(axis=1)

    assert (assigns(local) == assigns(dist)).all()


def test_hash_sampled_training_matches_replay(spark):
    """Above budget with sample_by_hash, training runs on the rows with
    the lowest md5(id) — replay the sample selection and the local Lloyd
    in numpy+hashlib and require identical centroids."""
    import hashlib

    from data_to_parquet_spark.ops import lloyd_centroids

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    budget, k, iters = 64, 4, 3
    got, _ = lloyd_centroids(
        e,
        "vec_id",
        "embedding",
        k=k,
        iterations=iters,
        local_max=budget,
        sample_by_hash=True,
    )

    rows = [(r["vec_id"], r["embedding"]) for r in e.collect()]
    sampled = sorted(
        rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest()
    )[:budget]
    sampled.sort(key=lambda r: r[0])
    mat = np.vstack([v for _, v in sampled]).astype("float64")
    cents = mat[:k].copy()
    for _ in range(iters):
        d2 = (
            (mat**2).sum(axis=1, keepdims=True)
            - 2 * mat @ cents.T
            + (cents**2).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        cents = cents.copy()
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    np.testing.assert_array_equal(got, cents)


def test_unreadable_path_fingerprint_is_constant_sentinel(tmp_path):
    """ADVICE r7 regression pin: the unreadable sentinel must be a
    CONSTANT (the old os.urandom form made every memo lookup on a
    persistently unreadable path miss AND insert a fresh key — unbounded
    cache growth over a long session)."""
    from data_to_parquet_spark.operators.base import (
        UNREADABLE_FINGERPRINT,
        path_fingerprint,
    )

    missing = str(tmp_path / "does_not_exist.parquet")
    assert path_fingerprint(missing) == UNREADABLE_FINGERPRINT
    assert path_fingerprint(missing) == path_fingerprint(missing)


def _write_docs(spark, root: str, flavor: str) -> None:
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (i, "en", f"{base} {flavor}", "web", 10) for i in range(4)
    ] + [(9, "en", f"totally different {flavor} text body", "web", 5)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, source string, n_chars int"
    )
    tmp = os.path.join(root, "_tmp_docs")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    dst = os.path.join(root, "documents.parquet")
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(tmp, dst)


def test_dedup_memos_invalidate_when_documents_regenerate(spark, tmp_path):
    """r8: the jaccard-pair / signature / CC-label memos fingerprint
    documents.parquet — a mid-session regeneration must recompute, not
    serve pairs from the previous generation."""
    from data_to_parquet_spark.operators import dedup

    root = str(tmp_path)
    _write_docs(spark, root, flavor="one")
    dedup._doc_signatures.memo.clear()
    dedup.neardup_jaccard_pairs.memo.clear()
    p1 = dedup.neardup_jaccard_pairs(spark, root)
    assert dedup.neardup_jaccard_pairs(spark, root) is p1  # memo hit
    n1 = p1.count()
    assert n1 == 6  # 4 identical docs -> C(4,2) pairs at J >= 0.9
    time.sleep(0.05)
    _write_docs(spark, root, flavor="two")
    p2 = dedup.neardup_jaccard_pairs(spark, root)
    assert p2 is not p1, (
        "jaccard-pair memo served the previous generation of documents"
    )
    assert p2.count() == n1
    assert dedup.neardup_jaccard_pairs(spark, root) is p2  # new memo hit


def test_distinct_hyperparameters_train_separately(spark, tmp_path):
    root = str(tmp_path)
    _write_embeddings(spark, root, scale=1.0)
    sim._corpus_centroids.memo.clear()
    c_k3 = sim._corpus_centroids(spark, root, k=3, iterations=2)
    c_k4 = sim._corpus_centroids(spark, root, k=4, iterations=2)
    assert c_k3.shape[0] == 3 and c_k4.shape[0] == 4
    assert len(sim._corpus_centroids.memo) == 2


def test_local_training_jobs_and_centroids(spark):
    """Below the budget, training costs the id-only probe (one Arrow job)
    plus the bounded fetch of (id, vector) on a multi-partition frame, and
    the centroids are the numpy replay's: k lowest ids as seeds,
    lowest-index argmin ties."""
    from data_to_parquet_spark.ops import lloyd_centroids

    mat = np.array(
        [[(i * (7 + j)) % 23 for j in range(3)] for i in range(240)], "float64"
    )
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    assert df.rdd.getNumPartitions() > 1
    sc = spark.sparkContext
    group = "lloyd-local-jobs"
    sc.setJobGroup(group, group)
    try:
        got, _ = lloyd_centroids(df, "vec_id", "embedding", k=5, iterations=3)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # probe: one Arrow job; fetch: a CollectLimit collect, two jobs
    assert len(jobs) == 3

    cents = mat[:5].copy()
    for _ in range(3):
        d2 = (
            (mat**2).sum(axis=1, keepdims=True)
            - 2 * mat @ cents.T
            + (cents**2).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        cents = cents.copy()
        for c in range(5):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    assert np.array_equal(got, cents)
