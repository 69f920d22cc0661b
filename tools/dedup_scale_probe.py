"""2x weak-scaling steps for the two remaining >3.5 s dedup-family heavies
(VERDICT r6 item 8): `neardup_jaccard_pairs` and `dbscan_embedding_clusters`.
Same harness shape as tools/containment_probe.py; results appended to
SCALING.md.

1. **neardup_jaccard_pairs** — doubled documents corpus: sf0.1 docs plus a
   doc_id-shifted copy whose alnum token runs carry a `qv9` suffix, so the
   copy's token sets are (near-)disjoint from the originals and the
   duplicate-pair structure duplicates rather than densifies. This is the
   same weak-scaling step a cluster sees adding a second equal shard.
   Signature/pair memos are cleared per rep (cold build every time).

2. **dbscan_embedding_clusters** — doubled embeddings corpus: sf0.1
   vectors plus a vec_id-shifted NEGATED copy. Negation preserves the
   copy's internal cosine structure exactly, but cosine space is bounded:
   cos(x, -y) = -cos(x, y), and the corpus's pair-cosine distribution is
   symmetric (measured at sf0.1: 44,380 pairs >= 0.25 vs 44,278 <= -0.25),
   so the doubled corpus gains ~2x CROSS eps-edges on top of the 2x
   duplicated within-shard edges — ~3x edges for 2x vectors, by
   construction of the geometry, not by an index defect. The honest scale
   statement for an edge-dominated graph algorithm is therefore the
   exponent against EDGE growth (reported alongside the raw vector-count
   exponent): DBSCAN's cost is eps-graph + CC work, both linear-ish in
   edges.

Run: ``python tools/dedup_scale_probe.py``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
ROOT = "/tmp/d2p_dedup_scale_probe"
REPS = 3


def _build_doc_corpora(spark) -> tuple[str, str]:
    from pyspark.sql import functions as F

    x1 = os.path.join(ROOT, "docs_x1")
    x2 = os.path.join(ROOT, "docs_x2")
    d = spark.read.parquet(f"{SRC}/documents.parquet")
    d.write.parquet(f"{x1}/documents.parquet")
    offset = d.agg(F.max("doc_id")).collect()[0][0] + 1
    shifted = d.select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.regexp_replace("text", r"([a-zA-Z0-9]+)", r"$1qv9").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    d.unionByName(shifted).write.parquet(f"{x2}/documents.parquet")
    return x1, x2


def _build_emb_corpora(spark) -> tuple[str, str]:
    from pyspark.sql import functions as F

    x1 = os.path.join(ROOT, "emb_x1")
    x2 = os.path.join(ROOT, "emb_x2")
    e = spark.read.parquet(f"{SRC}/embeddings.parquet")
    e.write.parquet(f"{x1}/embeddings.parquet")
    offset = e.agg(F.max("vec_id")).collect()[0][0] + 1
    negated = e.select(
        (F.col("vec_id") + offset).alias("vec_id"),
        "label",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    ).select(*e.columns)  # preserve original column order
    e.unionByName(negated).write.parquet(f"{x2}/embeddings.parquet")
    return x1, x2


def _cold_docs(fn, *args):
    from data_to_parquet_spark.operators import dedup

    dedup._doc_signatures.memo.clear()
    dedup.neardup_jaccard_pairs.memo.clear()
    dedup._cc_label_table.memo.clear()
    t = time.time()
    n = fn(*args).count()
    return time.time() - t, n


def _median_runs(fn, spark, sf_dir):
    runs = [_cold_docs(fn, spark, sf_dir) for _ in range(REPS)]
    return statistics.median(r[0] for r in runs), runs[0][1]


def main() -> None:
    from data_to_parquet_spark import get_spark
    from data_to_parquet_spark.operators.dedup import neardup_jaccard_pairs
    from data_to_parquet_spark.operators.similarity import (
        dbscan_embedding_clusters,
        embedding_neardup_pairs,
    )

    spark = get_spark()
    if os.path.exists(ROOT):
        shutil.rmtree(ROOT)

    dx1, dx2 = _build_doc_corpora(spark)
    j1 = _median_runs(neardup_jaccard_pairs, spark, dx1)
    j2 = _median_runs(neardup_jaccard_pairs, spark, dx2)
    j_exp = math.log(j2[0] / j1[0]) / math.log(2.0)

    ex1, ex2 = _build_emb_corpora(spark)
    # eps-edge counts contextualize the dbscan step (see module docstring)
    edges1 = embedding_neardup_pairs(spark, ex1).count()
    edges2 = embedding_neardup_pairs(spark, ex2).count()
    b1 = _median_runs(dbscan_embedding_clusters, spark, ex1)
    b2 = _median_runs(dbscan_embedding_clusters, spark, ex2)
    b_exp_vecs = math.log(b2[0] / b1[0]) / math.log(2.0)
    b_exp_edges = math.log(b2[0] / b1[0]) / math.log(edges2 / edges1)

    lines = [
        "",
        "## neardup_jaccard_pairs / dbscan_embedding_clusters — 2x steps (round 7)",
        "",
        "Same harness as the containment study (cold memos every rep,",
        f"median of {REPS}). Jaccard: doubled disjoint-token documents",
        "corpus. DBSCAN: doubled embeddings via a negated copy — negation",
        "preserves within-shard cosine structure but the symmetric pair-",
        "cosine distribution adds ~2x cross eps-edges (bounded geometry,",
        "not an index defect), so the edge-relative exponent is the",
        "meaningful one for this edge-dominated graph algorithm.",
        "",
        "| workload | corpus | wall s | output rows | step exponent |",
        "|---|---|---|---|---|",
        f"| neardup_jaccard_pairs | 1x (sf0.1) | {j1[0]:.2f} | {j1[1]} | — |",
        f"| neardup_jaccard_pairs | 2x | {j2[0]:.2f} | {j2[1]} | {j_exp:.2f} |",
        f"| dbscan_embedding_clusters | 1x (sf0.1) | {b1[0]:.2f} | {b1[1]} | — |",
        (
            f"| dbscan_embedding_clusters | 2x | {b2[0]:.2f} | {b2[1]} | "
            f"{b_exp_vecs:.2f} vs vectors, {b_exp_edges:.2f} vs edges "
            f"({edges1} -> {edges2} eps-edges) |"
        ),
    ]

    from _md_sections import replace_section

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    replace_section(
        os.path.join(here, "SCALING.md"),
        "\n## neardup_jaccard_pairs / dbscan_embedding_clusters — 2x steps",
        lines,
    )
    print("\n".join(lines))
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
