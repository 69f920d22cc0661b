"""1x/2x/4x weak-scaling steps for `pq_reconstruction_audit` — probed
from birth (the r10 precedent: a new heavy query gets an above-sf0.1
record in its first round).

The audit's corpus-dependent work is five linear scans (bounded-sample
training scan+sort, the encode+decode error pass, the ADC scan, the
exact brute-force scan, the true-cosine fetch) plus an 8-group code
aggregation; driver traffic is corpus-independent (one stats row, 8
usage rows, 4 scalars). The ideal step exponent is therefore ~1.0 once
fixed overhead amortizes; superlinear would flag a fan-out defect in
the pair-scoring paths.

Corpus construction extends tools/dedup_scale_probe.py's negation
trick: 2x = original + vec_id-shifted negated copies (distance
distribution preserved, no artificial duplicates), 4x = 2x plus the
same pair with dimensions cyclically rolled by one (norms and pairwise
distance distribution preserved). The fixed query set (vec_id < 5)
keeps the top-k work per query constant, so the steps isolate corpus
size exactly as a production index-build would scale.

Memo discipline: the PQ codebook memo is cleared before every rep so
each timing pays the full train + encode + scan workload (the
memo-backed re-measure rule from bench.py).

Run: ``python tools/pq_audit_scale_probe.py``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
ROOT = "/tmp/d2p_pq_audit_probe"
REPS = 3


def _build_emb_corpora(spark) -> dict[int, str]:
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SRC}/embeddings.parquet")
    offset = e.agg(F.max("vec_id")).collect()[0][0] + 1

    def shifted(df, k, transform):
        return df.select(
            (F.col("vec_id") + k * offset).alias("vec_id"),
            "label",
            transform(F.col("embedding")).alias("embedding"),
        ).select(*e.columns)

    neg = lambda c: F.transform(c, lambda x: -x)  # noqa: E731
    roll = lambda c: F.concat(F.slice(c, 2, 63), F.slice(c, 1, 1))  # noqa: E731
    neg_roll = lambda c: neg(roll(c))  # noqa: E731

    dirs: dict[int, str] = {}
    x1 = os.path.join(ROOT, "emb_x1")
    e.write.parquet(f"{x1}/embeddings.parquet")
    dirs[1] = x1
    x2 = os.path.join(ROOT, "emb_x2")
    e.unionByName(shifted(e, 1, neg)).write.parquet(
        f"{x2}/embeddings.parquet"
    )
    dirs[2] = x2
    x4 = os.path.join(ROOT, "emb_x4")
    (
        e.unionByName(shifted(e, 1, neg))
        .unionByName(shifted(e, 2, roll))
        .unionByName(shifted(e, 3, neg_roll))
        .write.parquet(f"{x4}/embeddings.parquet")
    )
    dirs[4] = x4
    return dirs


def _cold_run(spark, sf_dir):
    from data_to_parquet_spark.operators import similarity as sim

    sim._pq_fit.memo.clear()
    t = time.time()
    n = sim.pq_reconstruction_audit(spark, sf_dir).count()
    return time.time() - t, n


def main() -> None:
    from data_to_parquet_spark import get_spark

    spark = get_spark()
    if os.path.exists(ROOT):
        shutil.rmtree(ROOT)
    dirs = _build_emb_corpora(spark)

    # one untimed pass pays whole-stage-codegen compilation and the
    # Python-worker pool spin-up for this query shape — without it the 1x
    # point (which runs first) absorbs those session costs and the 1x->2x
    # exponent reads negative (observed -0.39 on the first r11 run)
    _cold_run(spark, dirs[1])

    results: dict[int, tuple[float, int]] = {}
    for m in (1, 2, 4):
        runs = [_cold_run(spark, dirs[m]) for _ in range(REPS)]
        results[m] = (statistics.median(r[0] for r in runs), runs[0][1])

    def step_exp(lo, hi):
        return math.log(results[hi][0] / results[lo][0]) / math.log(hi / lo)

    lines = [
        "",
        "## pq_reconstruction_audit — successive 2x steps (round 11)",
        "",
        f"Median of {REPS} memo-cold runs per point (the PQ codebook memo",
        "is cleared before each rep, so every timing pays the full",
        "train + encode + ADC + brute-force workload; one untimed pass",
        "first pays codegen/worker-pool session costs). Corpora preserve",
        "the distance distribution: 2x adds vec_id-shifted negated",
        "copies, 4x adds the same pair with dimensions cyclically rolled",
        "by one. The query set stays fixed at 5 vectors, so the steps",
        "isolate corpus size. All corpus-dependent work is linear scans",
        "plus an 8-group aggregation; the ideal exponent is ~1.0 once",
        "fixed overhead amortizes, and a superlinear trend would flag a",
        "fan-out defect in the pair-scoring paths.",
        "",
        "| corpus | wall s | output rows | step exponent |",
        "|---|---|---|---|",
        f"| 1x (sf0.1) | {results[1][0]:.2f} | {results[1][1]} | — |",
        f"| 2x vectors | {results[2][0]:.2f} | {results[2][1]} |"
        f" {step_exp(1, 2):.2f} |",
        f"| 4x vectors | {results[4][0]:.2f} | {results[4][1]} |"
        f" {step_exp(2, 4):.2f} (2x->4x) |",
        "",
        "Reading (r11 run): wall time is flat ~2.4-2.8 s across 4x — the",
        "audit is FIXED-COST-bound at this corpus size (it launches ~10",
        "bounded-collect jobs whose scheduling dominates; the per-vector",
        "numpy work for 2k-8k x 64-d vectors is microseconds). The",
        "meaningful signal is what flatness excludes: any quadratic",
        "pair-scoring defect would have multiplied 16x at the 4x point",
        "and is absent. The compute-bound asymptote sits far above 4x",
        "sf0.1; at index-build scale the cost is the linear scans, whose",
        "shapes (broadcast queries, narrow maps, 8-group agg) the",
        "docstring and plan sweep pin.",
    ]

    from _md_sections import replace_section

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    replace_section(
        os.path.join(here, "SCALING.md"),
        "\n## pq_reconstruction_audit — successive 2x steps",
        lines,
    )
    print("\n".join(lines))
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
