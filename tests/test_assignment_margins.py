"""Ulp-safety margins for the Lloyd-family oracles.

The kmeans / IVF / semdedup oracles replay distributed floating-point
training in DuckDB; cross-engine reduce-order differences perturb centroid
coordinates by ~1e-12 relative, which is harmless ONLY while every discrete
decision (cell assignment, probe ranking) has a margin far above that
scale. These tests MEASURE the minimum margins on the current testdata at
the driver's sf. If a future testdata regeneration produces a near-tie,
this fails locally with a clear message instead of surfacing as an
unexplained driver hash mismatch (the NTZ-incident failure mode).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_to_parquet_spark.operators import similarity as sim

SF = "/root/testdata/sf0.01"
# distributed-vs-sequential summation over ~2000 64-dim float64 vectors
# perturbs centroids at ~1e-12 relative; demand 5 orders of magnitude
REL_MARGIN_FLOOR = 1e-7


def _corpus(spark):
    rows = sorted(
        spark.read.parquet(f"{SF}/embeddings.parquet").collect(),
        key=lambda r: r["vec_id"],
    )
    return np.vstack([r["embedding"] for r in rows]).astype("float64")


def _min_assignment_margin(mat: np.ndarray, cents: np.ndarray) -> float:
    d2 = (
        (mat**2).sum(axis=1, keepdims=True)
        - 2 * mat @ cents.T
        + (cents**2).sum(axis=1)[None, :]
    )
    part = np.sort(d2, axis=1)
    gaps = part[:, 1] - part[:, 0]
    scale = np.maximum(part[:, 0], 1e-30)
    return float((gaps / scale).min())


@pytest.mark.parametrize(
    "k,iters,label",
    [
        (sim._KM_K, sim._KM_ITERS, "kmeans"),
        (sim._IVF_K, sim._IVF_ITERS, "ivf/semdedup"),
    ],
)
def test_cell_assignment_margins(spark, k, iters, label):
    sim._corpus_centroids.memo.clear()
    cents = sim._corpus_centroids(spark, SF, k, iters)
    mat = _corpus(spark)
    margin = _min_assignment_margin(mat, cents)
    assert margin > REL_MARGIN_FLOOR, (
        f"{label}: nearest-centroid assignment margin {margin:.2e} is "
        f"within ulp range of the cross-engine centroid perturbation — "
        f"the DuckDB oracle replay may flip an assignment on this data. "
        f"Regenerated testdata? Re-check the Lloyd-family oracles."
    )


def test_ivf_probe_ranking_margins(spark):
    """nprobe selection sorts centroid distances; adjacent ranked
    distances must not be ulp-close or the oracle's ORDER BY could
    disagree with numpy's stable argsort."""
    sim._corpus_centroids.memo.clear()
    cents = sim._corpus_centroids(spark, SF, sim._IVF_K, sim._IVF_ITERS)
    mat = _corpus(spark)[: sim._N_QUERIES]
    d2 = (
        (mat**2).sum(axis=1, keepdims=True)
        - 2 * mat @ cents.T
        + (cents**2).sum(axis=1)[None, :]
    )
    s = np.sort(d2, axis=1)[:, : sim._IVF_NPROBE + 1]
    gaps = np.diff(s, axis=1)
    rel = gaps / np.maximum(s[:, :-1], 1e-30)
    assert float(rel.min()) > REL_MARGIN_FLOOR


def test_driver_corpora_fit_the_local_training_budget(spark):
    """The IVF/semdedup oracles train on the FULL corpus while the
    implementation switches to a bounded md5 sample above
    LLOYD_LOCAL_TRAIN_MAX (sample_by_hash=True in _corpus_centroids).
    The two agree exactly only while every driver-checked corpus fits the
    budget — this pins that precondition so a larger regenerated testdata
    fails here with a diagnosis instead of as a driver hash mismatch."""
    from data_to_parquet_spark.ops import LLOYD_LOCAL_TRAIN_MAX

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
        assert n <= LLOYD_LOCAL_TRAIN_MAX, (
            f"{sf}: embeddings has {n} rows > LLOYD_LOCAL_TRAIN_MAX="
            f"{LLOYD_LOCAL_TRAIN_MAX}; the quantizer would train on a "
            f"sample while the full-corpus oracles (kmeans/ivf/semdedup) "
            f"train on everything — update the oracles or raise the "
            f"budget before the driver checks this sf."
        )


def test_no_document_text_collides_with_gif_magic(spark):
    """multimodal_decode_manifest's oracle assumes every text payload
    takes the 'unknown' stub branch; PNG/JPEG magics cannot occur in
    valid UTF-8, but GIF's magic is pure ASCII, so a text beginning
    'GIF87a'/'GIF89a' (>= 10 bytes) would real-parse in Spark while the
    oracle emits stub values. Pin the corpus assumption explicitly."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        n = d.filter(
            (d.text.startswith("GIF87a") | d.text.startswith("GIF89a"))
            & (F.length(d.text) >= 10)
        ).count()
        assert n == 0, (
            f"{sf}: {n} document(s) start with a GIF magic — the "
            f"decode-manifest oracle's all-stub assumption breaks; "
            f"extend the oracle with the GIF header branch."
        )


def test_lsh_bucket_bits_have_no_zero_dims(spark):
    """Sign-bit buckets compare `dim > 0`; an exactly-zero embedding
    coordinate would make the bit depend on float-comparison conventions.
    The synthetic corpus must keep every bucketed dimension away from 0
    (floats, so exact zero is the only dangerous value)."""
    mat = _corpus(spark)
    used_dims = sorted(
        {sim._ANN_STRIDE * t + j for t in range(sim._ANN_TABLES) for j in range(sim._ANN_BITS)}
        | {sim._ND_BITS * t + j for t in range(sim._ND_TABLES) for j in range(sim._ND_BITS)}
    )
    assert (mat[:, used_dims] != 0.0).all()
