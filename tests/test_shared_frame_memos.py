"""The r15 shared-frame session memos (per-order brand sets, embedding
eps-graph, hashed-embedding sums) must (a) serve the identical frame to
every consumer within one data generation, (b) invalidate when the
backing table regenerates under the same path (the stale-green class the
NTZ incident documents), and (c) leave every consumer's VALUES unchanged
vs an uncached rebuild. The memo contract itself (one entry per
generation, unreadable tables bypass) is pinned in test_session_memo.py.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from data_to_parquet_spark.operators import pipeline as pipe
from data_to_parquet_spark.operators import similarity as sim
from data_to_parquet_spark.operators import tpch_extra as tx


def _write(spark, root: str, name: str, df) -> None:
    tmp = os.path.join(root, "_tmp_write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    dst = os.path.join(root, f"{name}.parquet")
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(tmp, dst)


def _basket_fixture(spark, root: str, shift: int) -> None:
    li = spark.createDataFrame(
        [(o, (o + i + shift) % 5 + 1) for o in range(1, 9) for i in range(3)],
        "l_orderkey long, l_partkey long",
    )
    p = spark.createDataFrame(
        [(k, f"Brand#{k}") for k in range(1, 6)],
        "p_partkey long, p_brand string",
    )
    _write(spark, root, "lineitem", li)
    _write(spark, root, "part", p)


def test_order_brands_memo_reuses_and_invalidates(spark, tmp_path):
    root = str(tmp_path)
    _basket_fixture(spark, root, shift=0)
    tx._order_brand_sets.memo.clear()
    f1 = tx._order_brand_sets(spark, root)
    f2 = tx._order_brand_sets(spark, root)
    assert f1 is f2  # served from the memo
    rows1 = {r["l_orderkey"]: list(r["bs"]) for r in f1.collect()}
    # uncached rebuild computes the same sorted sets
    li = spark.read.parquet(os.path.join(root, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(root, "part.parquet"))
    expect = {
        r["l_orderkey"]: list(r["bs"])
        for r in li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
        .collect()
    }
    assert rows1 == expect
    time.sleep(0.05)
    _basket_fixture(spark, root, shift=2)
    f3 = tx._order_brand_sets(spark, root)
    assert f3 is not f1  # regenerated table misses the memo
    rows3 = {r["l_orderkey"]: list(r["bs"]) for r in f3.collect()}
    assert rows3 != rows1
    # part-ONLY regeneration must also invalidate (r15 ADVICE: the memo
    # joins part.parquet for p_brand, so a fingerprint that only covered
    # lineitem served stale brand sets when part alone regenerated)
    time.sleep(0.05)
    p2 = spark.createDataFrame(
        [(k, f"Brand#{k + 10}") for k in range(1, 6)],
        "p_partkey long, p_brand string",
    )
    _write(spark, root, "part", p2)
    f4 = tx._order_brand_sets(spark, root)
    assert f4 is not f3  # stale-part memo must miss
    rows4 = {r["l_orderkey"]: list(r["bs"]) for r in f4.collect()}
    assert rows4 != rows3  # new brand names visible


def test_eps_pairs_memo_reuses_and_invalidates(spark, tmp_path):
    root = str(tmp_path)

    def write_emb(scale: float) -> None:
        rows = [
            (i, "a", [float(scale) * ((i % 3) + j + 1) for j in range(64)])
            for i in range(10)
        ]
        _write(
            spark,
            root,
            "embeddings",
            spark.createDataFrame(
                rows, "vec_id long, label string, embedding array<float>"
            ),
        )

    write_emb(1.0)
    sim.embedding_neardup_pairs.memo.clear()
    f1 = sim.embedding_neardup_pairs(spark, root)
    f2 = sim.embedding_neardup_pairs(spark, root)
    assert f1 is f2
    n1 = f1.count()
    assert n1 > 0  # colinear-ish vectors: the verify keeps pairs
    time.sleep(0.05)
    # flip signs of one dim-block: bucketing and cosines change
    rows = [
        (i, "a", [(-1.0 if j < 8 else 1.0) * ((i % 3) + j + 1) for j in range(64)])
        for i in range(10)
    ]
    _write(
        spark,
        root,
        "embeddings",
        spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<float>"
        ),
    )
    f3 = sim.embedding_neardup_pairs(spark, root)
    assert f3 is not f1


def test_shingle_frame_memo_reuses_and_invalidates(spark, tmp_path):
    """r16: the corpus shingle frame is session-memoized (first consumer
    pays the checkpointed build), invalidates on documents regeneration,
    and serves values identical to an uncached rebuild."""
    root = str(tmp_path)

    def write_docs(suffix: str) -> None:
        rows = [
            (i, "en", f"alpha beta gamma delta epsilon zeta{suffix} t{i % 3}")
            for i in range(10)
        ]
        _write(
            spark,
            root,
            "documents",
            spark.createDataFrame(rows, "doc_id long, lang string, text string"),
        )

    write_docs("")
    pipe._shingle_frame.memo.clear()
    f1 = pipe._shingle_frame(spark, root)
    f2 = pipe._shingle_frame(spark, root)
    assert f1 is f2  # served from the memo
    rows1 = {r["doc_id"]: list(r["s"]) for r in f1.collect()}
    expect = {
        r["doc_id"]: list(r["s"])
        for r in pipe._shingles_of(
            spark.read.parquet(os.path.join(root, "documents.parquet"))
        ).collect()
    }
    assert rows1 == expect
    time.sleep(0.05)
    write_docs("x")
    f3 = pipe._shingle_frame(spark, root)
    assert f3 is not f1  # regenerated table misses the memo
    rows3 = {r["doc_id"]: list(r["s"]) for r in f3.collect()}
    assert rows3 != rows1


def test_bf_topk_memo_reuses_and_invalidates(spark, tmp_path):
    """r16: the exact brute-force top-k frame is session-memoized (three
    ANN audits read it as ground truth), invalidates on embeddings
    regeneration, and serves values identical to an uncached rebuild."""
    root = str(tmp_path)

    def write_emb(scale: float) -> None:
        rows = [
            (i, "a", [float(scale) * ((i * 7 + j * 3) % 11 + 1) for j in range(64)])
            for i in range(30)
        ]
        _write(
            spark,
            root,
            "embeddings",
            spark.createDataFrame(
                rows, "vec_id long, label string, embedding array<float>"
            ),
        )

    write_emb(1.0)
    sim.similarity_topk_bruteforce.memo.clear()
    f1 = sim.similarity_topk_bruteforce(spark, root)
    f2 = sim.similarity_topk_bruteforce(spark, root)
    assert f1 is f2  # served from the memo
    rows1 = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in f1.collect()}
    assert rows1  # non-empty ground truth
    time.sleep(0.05)
    write_emb(3.0)  # same directions scaled — but mtime/size change
    f3 = sim.similarity_topk_bruteforce(spark, root)
    assert f3 is not f1  # regenerated table misses the memo


def test_emb_sums_memo_full_corpus_only(spark, tmp_path):
    root = str(tmp_path)

    def write_docs(suffix: str) -> None:
        rows = [(i, "en", f"alpha beta gamma{suffix} tok{i % 4}") for i in range(12)]
        _write(
            spark,
            root,
            "documents",
            spark.createDataFrame(rows, "doc_id long, lang string, text string"),
        )

    write_docs("")
    pipe._corpus_embedding_sums.memo.clear()
    f1 = pipe._hashed_embedding_sums(spark, root)
    f2 = pipe._hashed_embedding_sums(spark, root)
    assert f1 is f2
    # filtered subsets are NOT memoized (each filter is its own plan) ...
    q = pipe._hashed_embedding_sums(spark, root, doc_filter=F.col("doc_id") < 3)
    assert q is not f1
    assert len(pipe._corpus_embedding_sums.memo) == 1
    # ... and subset vectors equal their full-corpus twins (the contract
    # generated_embedding_topk's query side relies on)
    full = {r["doc_id"]: list(r["emb_sums"]) for r in f1.collect()}
    sub = {r["doc_id"]: list(r["emb_sums"]) for r in q.collect()}
    assert sub == {k: v for k, v in full.items() if k < 3}
    time.sleep(0.05)
    write_docs("x")
    f3 = pipe._hashed_embedding_sums(spark, root)
    assert f3 is not f1
