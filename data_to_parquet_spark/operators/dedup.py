"""Deduplication operators over ``documents``: exact, fingerprint-grouped,
blocked n-gram Jaccard, MinHash-LSH, and SimHash — the dedup family a
large-scale training-data pipeline needs (BASELINE.json north star).

Scale design notes (the point of each implementation):

* exact / fingerprint — one hash-groupBy shuffle; survivors by min doc_id.
* jaccard — candidate pairs are generated inside blocks (lang here; any
  low-skew blocking key works), never as a global cross join.
* MinHash-LSH — shingle→minhash→band→bucket-join: the candidate set is
  |bucket|²-bounded per band bucket, not |corpus|²; all hashing is Spark's
  xxhash64 (JVM-side, deterministic).
* SimHash — 64-bit fingerprints via one explode + groupBy pass; candidates
  from 16-bit band equality, verified by Hamming distance.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructType

from ..functions.exprs import distinct_tokens, exploded_rows, tokens
from .base import Registry, load_table, session_memo

DEDUP = Registry()


@DEDUP.register(
    "dedup_exact_text",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact_text(spark, sf_dir):
    """Exact dedup: group by full text, keep the smallest doc_id.

    Scale: at 100 TB you group by sha2(text) instead of the text bytes to
    shrink shuffle width — that variant is `dedup_exact_hash`.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("doc_id", "n_copies")


@DEDUP.register(
    "dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS text_hash, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup on sha-256 of the content (the shuffle-narrow variant)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.sha2("text", 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_SALT = 16  # parallelism multiplier for low-cardinality block keys


@session_memo("documents")
def _doc_signatures(spark, sf_dir):
    """The df-ordered signature table (ops.df_ordered_signatures over
    documents, lang-blocked). The symmetric Jaccard join and the
    asymmetric containment join consume the IDENTICAL signature build (two
    shuffles: token df count + per-doc ordered collect); sharing the
    lazily-checkpointed table pays it once per application — the "tokenize
    and index once, run every set-join off it" stage of a production dedup
    pipeline."""
    from ..ops import df_ordered_signatures

    d = load_table(spark, sf_dir, "documents")
    return df_ordered_signatures(d, "doc_id", "text", block_col="lang")


#: The verified (doc_a, doc_b, jaccard) pair table is session-memoized
#: (``neardup_jaccard_pairs.memo``). Three operators consume the same
#: prefix-filter join — the pairs query itself, the connected-components
#: fixpoint, and the cross-source duplication matrix — and without the memo
#: each recomputes the most expensive join in the repo. The cached frame is
#: a lazily-materialized localCheckpoint (first action pays, every later
#: consumer reads the checkpointed blocks), mirroring `_cc_label_table`
#: below. At 100 TB this is the "materialize the pair table once" stage
#: every real dedup pipeline has — downstream clustering/reporting reads
#: the materialization, not the join.
@DEDUP.register(
    "neardup_jaccard_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM tok a JOIN tok b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
    """,
)
@session_memo("documents")
def neardup_jaccard_pairs(spark, sf_dir):
    """Exact pairwise token-set Jaccard (threshold 0.9) via prefix filtering
    (AllPairs/PPJoin): each doc only indexes its ``|d| - ceil(t·|d|) + 1``
    globally-first tokens; any pair with J ≥ t provably shares an indexed
    token, so candidates come from an inverted-index self-join instead of an
    all-pairs block join.

    Scale: this is the difference between O(block²) intersects and an
    index join whose bucket sizes are bounded by rare-token document
    frequency — tokens are globally ordered by ascending df (the canonical
    AllPairs ordering), so the indexed prefix of every doc is its *rarest*
    tokens and no stopword ever becomes a hot join key. The verify step
    (full array_intersect) runs only on surviving candidates. Same result
    set as the naive oracle join, exactly.

    The algorithm lives in :func:`..ops.neardup_jaccard_prefix` (the
    parametrized library form — tokenize→df-order→checkpointed signature
    table→skinny prefix index join→distinct→verify); this query binds it to
    the documents corpus with `lang` blocking at threshold 0.9.
    """
    d = load_table(spark, sf_dir, "documents")
    from ..ops import neardup_jaccard_prefix

    return neardup_jaccard_prefix(
        d,
        "doc_id",
        "text",
        block_col="lang",
        threshold=0.9,
        signatures=_doc_signatures(spark, sf_dir),
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    ).localCheckpoint(eager=False)


# The ~80/10/10 hash-split rule is EXACTLY text.split_train_val_test's
# (first two md5 hex chars of the id: < 'cd' train, < 'e6' val, else
# test) so this audit checks the very split that operator materializes.


def _split_case_sql(doc_expr: str) -> str:
    return (
        f"CASE WHEN substr(md5(CAST({doc_expr} AS VARCHAR)), 1, 2) < 'cd'"
        f" THEN 'train'"
        f" WHEN substr(md5(CAST({doc_expr} AS VARCHAR)), 1, 2) < 'e6'"
        f" THEN 'val' ELSE 'test' END"
    )


def _split_col(doc_col):
    h2 = F.substring(F.md5(doc_col.cast("string")), 1, 2)
    return (
        F.when(h2 < "cd", F.lit("train"))
        .when(h2 < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )


@DEDUP.register(
    "split_leakage_audit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a JOIN tok b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
    ), sp AS (
      SELECT {_split_case_sql('doc_a')} AS sa,
             {_split_case_sql('doc_b')} AS sb
      FROM pairs
    )
    SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
           least(sa, sb) <> greatest(sa, sb) AS cross_split,
           COUNT(*) AS n_pairs
    FROM sp GROUP BY 1, 2, 3
    """,
)
def split_leakage_audit(spark, sf_dir):
    """Train/val/test split-leakage audit (round-9 unfreeze): assign every
    document its deterministic ~80/10/10 hash split — the EXACT rule
    `split_train_val_test` materializes (first two md5 hex chars of the
    id), so this audits that operator's own split — and count how many
    NEAR-DUP pairs cross split boundaries: the contamination check a
    training pipeline runs before trusting its eval numbers, because a
    test doc whose near-duplicate sits in train is a leaked answer
    (`contamination_ngram_overlap` is the external-benchmark sibling;
    this audits the pipeline's internal split).

    Scale: the split label is a pure FUNCTION of doc_id, so it is
    computed map-side directly on the memoized near-dup pair table
    (`neardup_jaccard_pairs`, prefix-filter index join) — no join against
    the corpus at all; the aggregate is ≤ 6 split-class rows with
    map-side combine. Cross-engine determinism: md5-derived buckets and
    exact integer counts only.
    """
    pairs = neardup_jaccard_pairs(spark, sf_dir)
    sp = pairs.select(
        _split_col(F.col("doc_a")).alias("sa"),
        _split_col(F.col("doc_b")).alias("sb"),
    )
    return (
        sp.select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
            (F.least("sa", "sb") != F.greatest("sa", "sb")).alias(
                "cross_split"
            ),
        )
        .groupBy("split_lo", "split_hi", "cross_split")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# -- MinHash-LSH -----------------------------------------------------------
_MINHASH_K = 32  # signature length
_BANDS = 8  # 8 bands x 4 rows
_ROWS_PER_BAND = _MINHASH_K // _BANDS
_SHINGLE_W = 3  # 3-word shingles


_MH_PRIME = (1 << 31) - 1  # Mersenne prime for the derived-hash modulus


def partial_shingles(tokens_col: str):
    """w-word shingle positions with the PARTIAL-SHINGLE rule the production
    minhash uses: docs with 1..w-1 tokens keep ONE shingle (their whole
    token run), zero-token docs emit none. Expression text is shared with
    `_minhash_signatures` verbatim; `tests/test_minhash_shingles.py` pins
    the rule at the boundary sizes."""
    t = tokens_col
    return F.expr(
        f"transform("
        f" slice(sequence(1, greatest(size({t}) - {_SHINGLE_W - 1}, 1)),"
        f"       1, if(size({t}) = 0, 0,"
        f"             greatest(size({t}) - {_SHINGLE_W - 1}, 1))),"
        f" i -> array_join(slice({t}, i, {_SHINGLE_W}), ' '))"
    )


def strict_shingles(tokens_col: str):
    """Distinct w-word shingles with the STRICT rule the md5-oracled twin
    uses: docs with fewer than w tokens emit NO shingles at all. This is a
    DELIBERATE deviation from `partial_shingles` — `conv(substring(md5 ...))`
    arithmetic stays simplest when every shingle is a full window, and the
    deviation only affects 1..w-1-token documents, whose partial-shingle
    behavior is pinned on the production variant by
    `tests/test_minhash_shingles.py` instead of by the twin's oracle."""
    t = tokens_col
    return F.expr(
        f"array_distinct(transform("
        f" slice(sequence(1, greatest(size({t}) - {_SHINGLE_W - 1}, 1)),"
        f"       1, greatest(size({t}) - {_SHINGLE_W - 1}, 0)),"
        f" i -> array_join(slice({t}, i, {_SHINGLE_W}), ' ')))"
    )


def _minhash_signatures(docs, text_col="text"):
    """doc_id -> array<bigint> minhash signature, via explode + groupBy.

    Shingles are 3-word windows. Instead of K independent hash calls per
    shingle, Kirsch-Mitzenmacher double hashing derives the K functions from
    two xxhash64 values: h_i(s) = (h1 + i·h2) mod P — 2 hash evaluations per
    shingle instead of 32, same LSH guarantees. Modular arithmetic keeps
    every intermediate in i64 range (ANSI mode is overflow-checked).
    One shuffle (groupBy doc_id).

    Zero-token documents emit NO shingles (and so drop out of the signature
    table entirely) — otherwise every empty/punctuation-only doc would share
    one identical empty-string shingle and pair with all the others at
    est_jaccard 1.0. Docs with 1–2 tokens keep their single partial shingle.
    """
    shingled = exploded_rows(
        docs,
        ["doc_id"],
        partial_shingles("tokens"),
        "shingle",
    ).select(
        "doc_id",
        F.pmod(F.xxhash64("shingle"), F.lit(_MH_PRIME)).alias("h1"),
        F.pmod(F.xxhash64("shingle", F.lit(1)), F.lit(_MH_PRIME)).alias("h2"),
    )
    mins = [
        F.min(
            F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(_MH_PRIME))
        ).alias(f"h{i}")
        for i in range(_MINHASH_K)
    ]
    sig = shingled.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"h{i}" for i in range(_MINHASH_K)]).alias("sig")
    )


@DEDUP.register("dedup_minhash_pairs", oracle=None)
def dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup candidates, verified by signature similarity.

    Pipeline: shingle → 32 minhashes → 8 bands of 4 → band-bucket self-join →
    distinct candidate pairs → estimated Jaccard = matching-minhash fraction
    ≥ 0.8. (Rows-only driver check: xxhash64 isn't available to DuckDB; the
    SQL-oracled `neardup_jaccard_pairs` covers exact-Jaccard parity.)
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "tokens", tokens(F.col("text"))
    )
    sig = _minhash_signatures(d).cache()
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[b * _ROWS_PER_BAND + r]
                                for r in range(_ROWS_PER_BAND)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    est = (
        cand.join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda p, q: p == q),
                        lambda eq: eq,
                    )
                ).cast("double")
                / F.lit(_MINHASH_K)
            ).alias("est_jaccard"),
        )
    )
    return est.filter(F.col("est_jaccard") >= 0.8)


_SIMHASH_HAMMING = 3  # max Hamming distance; 4 bands ⇒ exact recall for ≤ 3


def simhash_fingerprints(docs, id_col="doc_id", text_col="text"):
    """(id, simhash) 64-bit SimHash fingerprints, all JVM-side bit ops.

    Per distinct token, xxhash64 → each of 64 bits votes ±1; the sign of the
    per-bit sum is the fingerprint bit. One explode + one groupBy pass.
    """
    tok = exploded_rows(
        docs, [id_col], distinct_tokens(F.col(text_col)), "tok"
    ).withColumn("h", F.xxhash64("tok"))
    # per-bit vote sums: sum over tokens of (2*bit-1)
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                (F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    # pack sign bits into one BIGINT via sum of shifted bits
    return votes.select(
        id_col,
        sum(
            [
                F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                * F.lit(2 ** b).cast("long")
                if b < 63
                else F.when(
                    F.col(f"v{b}") > 0, F.lit(-(2 ** 63)).cast("long")
                ).otherwise(F.lit(0).cast("long"))
                for b in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )


@DEDUP.register("dedup_simhash_pairs", oracle=None)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup: 64-bit fingerprints, candidates from 16-bit band
    equality, verified by Hamming distance ≤ 3.

    Band/verify guarantee (Manku et al., WWW'07 block-permuted scheme):
    with 4 disjoint 16-bit bands, any pair at Hamming ≤ 3 differs in at
    most 3 bands, so at least one band matches exactly — candidate recall
    for the verified ≤ 3 threshold is 100%, pinned by
    tests/test_simhash.py against brute-force Hamming pairs. (A looser
    threshold needs more tables, e.g. Manku's permuted re-blockings —
    shrinking the chunks instead would collapse the per-band bucket space
    and blow up |bucket|² at corpus scale.) All arithmetic is JVM-side bit
    ops — no UDFs. (Rows-only check: no xxhash64 in DuckDB.)
    """
    d = load_table(spark, sf_dir, "documents")
    # Checkpoint the fingerprints: the band self-join consumes this frame
    # on BOTH sides and Spark plans the tokenize→xxhash→64-sum pipeline
    # twice (no ReusedExchange across a broadcast side). Materializing the
    # |docs|×16-byte packed table once halves the fingerprint work — the
    # dominant cost at corpus scale (r8: 2.30 s → 2.13 s at sf0.1 even
    # with page-cached input; the md5 twin already does this).
    packed = simhash_fingerprints(d).localCheckpoint(eager=False)
    bands = packed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.chunk")
    # Verify BEFORE deduplicating: a pair can match in up to 4 bands, so
    # the candidate stream carries ≤4 copies — but the Hamming check is
    # one XOR+popcount, so re-verifying a duplicate costs nothing, while
    # the distinct's shuffle then carries only VERIFIED 3-column pairs
    # instead of every banded candidate with two 64-bit fingerprints
    # (strictly less shuffle volume at corpus scale; measured parity at
    # sf0.1 — 2.45 s both orders, same 98,433 pairs, r8).
    hamming = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    )
    return (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH_HAMMING)
        .distinct()
    )


# DuckDB oracle for connected components: transitive closure by recursive
# CTE over the same Jaccard-0.9 edge set, then cluster id = min reachable id.
_CC_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT doc_id, lang,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
  FROM documents
), pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
), edges AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
"""


@session_memo("documents")
def _cc_label_table(spark, sf_dir):
    """The (doc_id, cluster_id) label table, session-memoized. The CC
    fixpoint runs eager jobs at plan-construction time (one bounded
    collect of the pair graph below ``ops.GRAPH_LOCAL_MAX`` edges, a
    checkpointed round per iteration above it), so the memo keeps every
    query that needs the labels from re-running it; reusing the cached
    frame costs nothing."""
    from ..ops import connected_components

    pairs = neardup_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    d = load_table(spark, sf_dir, "documents")
    singletons = d.select("doc_id").join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).withColumn("cluster_id", F.col("doc_id"))
    return labels.unionByName(singletons).localCheckpoint(eager=False)


@DEDUP.register("dedup_connected_components", oracle=_CC_ORACLE)
def dedup_connected_components(spark, sf_dir):
    """Near-dup clustering: connected components over the Jaccard-0.9 pair
    graph via min-label propagation (the dedup step that turns pairwise
    matches into keep/drop decisions).

    The algorithm lives in :func:`..ops.connected_components` (the
    parametrized library form); this query feeds it the Jaccard-0.9 pair
    graph and unions back the edge-less documents as their own singleton
    clusters. A pair graph of at most ``ops.GRAPH_LOCAL_MAX`` edges is
    collected once and labelled in numpy (min-label propagation with
    pointer jumping); a larger one runs edge-contraction rounds whose
    per-round shuffle is O(|current edges|) and shrinks geometrically as
    clusters contract. The label table is computed once per (application,
    sf_dir) and shared with `dedup_keep_canonical`,
    `dedup_chain_depth_report` and `neardup_cluster_purity` via a memo.
    Oracle: DuckDB recursive-CTE transitive closure.
    """
    return _cc_label_table(spark, sf_dir)


@DEDUP.register(
    "dedup_keep_canonical",
    # same recursive-closure CTE chain as _CC_ORACLE, with the final select
    # extended by the keep/drop decision (splice keeps the edge definition
    # bit-identical between the two oracles)
    oracle=_CC_ORACLE.replace(
        "SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u",
        """, labels AS (
  SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
), kept AS (
  SELECT cluster_id AS doc_id, COUNT(*) - 1 AS dropped
  FROM labels GROUP BY cluster_id
)
SELECT d.doc_id, d.lang, k.dropped
FROM documents d JOIN kept k ON d.doc_id = k.doc_id""",
    ),
)
def dedup_keep_canonical(spark, sf_dir):
    """Dedup materialization: the actual keep/drop decision. Keep the
    minimum-id document of every near-dup cluster (cluster_id IS the min
    member id by construction), drop the rest, and report how many
    duplicates each survivor absorbed.

    This is the operator a training-data pipeline actually runs after
    clustering: `survivors = corpus ⋈ (labels where doc_id == cluster_id)`.
    Scale: one groupBy over the (doc_id, cluster_id) label table and one
    keyed join back to the corpus — both shuffle on doc_id, no new
    quadratic term beyond the pair graph itself. The label table comes from
    the shared per-application memo (`_cc_label_table`), so running both CC
    queries in one session pays for the fixpoint once.
    """
    labels = _cc_label_table(spark, sf_dir)
    kept = (
        labels.groupBy("cluster_id")
        .agg((F.count("*") - F.lit(1)).alias("dropped"))
        .select(F.col("cluster_id").alias("doc_id"), "dropped")
    )
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang").join(kept, "doc_id")


@DEDUP.register(
    "neardup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, lang,
             list_filter(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
               x -> x IS NOT NULL) AS s
      FROM tok
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
    """,
)
def neardup_ngram_jaccard(spark, sf_dir):
    """Order-sensitive near-dup: Jaccard over 3-word SHINGLE sets (vs the
    token-set variant in `neardup_jaccard_pairs`) — detects shared word
    sequences, not just shared vocabulary.

    Shingles are just set elements, so this rides the parametrized exact
    Jaccard library (:func:`..ops.neardup_jaccard_count` with ``elements=``
    the shingle array) — at threshold 0.2 the posting-count intersection
    join is the scale plan (the AllPairs prefix filter indexes ~80% of each
    set at low t, pruning nothing; measured 5× slower here), and there is
    never an O(block²) all-pairs intersect. Shingles use the
    sequence-slicing guard + array_join(slice(...)) formulation (docs
    shorter than 3 tokens get zero shingles, exactly like the oracle's
    NULL-concat filter) — the try_element_at(t, i+k) lambda-subscript form
    falls out of whole-stage codegen and measured ~6× slower end to end.
    """
    from ..ops import neardup_jaccard_count

    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    shingles = F.expr(
        "array_distinct(transform("
        " slice(sequence(1, greatest(size(t) - 2, 1)),"
        "       1, greatest(size(t) - 2, 0)),"
        " i -> array_join(slice(t, i, 3), ' ')))"
    )
    sh = d.select("doc_id", "lang", t.alias("t"))
    return neardup_jaccard_count(
        sh,
        "doc_id",
        block_col="lang",
        threshold=0.2,
        elements=shingles,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


_CONT_T = 0.95  # containment threshold
_CONT_MIN_TOKENS = 20  # ignore trivially-contained tiny docs
_CONT_MAX_J = 0.9  # exclude pairs the symmetric Jaccard query reports


@DEDUP.register(
    "containment_neardup_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> ''))) AS toks
      FROM documents
    )
    SELECT a.doc_id AS id_inner, b.doc_id AS id_outer,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(a.toks) AS containment,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM tok a JOIN tok b
      ON a.lang = b.lang AND a.doc_id <> b.doc_id
         AND (len(a.toks) < len(b.toks)
              OR (len(a.toks) = len(b.toks) AND a.doc_id < b.doc_id))
    WHERE len(a.toks) >= {_CONT_MIN_TOKENS}
      AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(a.toks) >= {_CONT_T}
      AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks))) < {_CONT_MAX_J}
    """,
)
def containment_neardup_pairs(spark, sf_dir):
    """Asymmetric containment near-dup: document pairs where the smaller
    doc's token set is ≥ {95}% covered by a larger doc's, but whose
    symmetric Jaccard is below the 0.9 dedup threshold — the quotes,
    excerpts, and boilerplate-subset pairs `neardup_jaccard_pairs`
    structurally cannot see (a paragraph pasted into a much longer page
    has small Jaccard, containment ≈ 1). Standard third axis of a
    training-data dedup stack after exact and symmetric-near dedup.

    Scale: asymmetric prefix-filter index join (probe indexes its rarest
    ``(1-t)·|A|+1`` tokens, the containing side posts all tokens) with the
    PPJoin positional bound; candidates are Σ df(rare probe tokens), never
    block². See :func:`..ops.neardup_containment_prefix` (the parametrized
    library form) for the full shape analysis. Exact — oracle is the
    naive all-pairs containment join, same result set.
    """
    from ..ops import neardup_containment_prefix

    d = load_table(spark, sf_dir, "documents")
    return neardup_containment_prefix(
        d,
        "doc_id",
        "text",
        block_col="lang",
        threshold=_CONT_T,
        min_tokens=_CONT_MIN_TOKENS,
        max_jaccard=_CONT_MAX_J,
        signatures=_doc_signatures(spark, sf_dir),
    )


_PASSAGE_W = 32  # tokens per passage chunk


@DEDUP.register(
    "passage_dedup_fraction",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), pas AS (
      SELECT doc_id,
             array_to_string(t[i:i+{_PASSAGE_W - 1}], ' ') AS passage
      FROM tok, unnest(generate_series(1, len(t), {_PASSAGE_W})) AS g(i)
      WHERE len(t) > 0
    ), per_doc AS (
      SELECT doc_id, passage, COUNT(*) AS m
      FROM pas GROUP BY doc_id, passage
    ), pdf AS (
      SELECT passage, COUNT(*) AS n_docs_with
      FROM per_doc GROUP BY passage
    )
    SELECT per_doc.doc_id,
           CAST(SUM(m) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN n_docs_with >= 2 THEN m ELSE 0 END)
                AS BIGINT) AS n_dup_passages,
           CAST(SUM(CASE WHEN n_docs_with >= 2 THEN m ELSE 0 END) AS DOUBLE)
             / SUM(m) AS dup_frac
    FROM per_doc JOIN pdf USING (passage)
    GROUP BY per_doc.doc_id
    """,
)
def passage_dedup_fraction(spark, sf_dir):
    """Passage-level duplication signal (RefinedWeb-style): chunk each
    document into fixed {32}-token passages, count how many of a document's
    passages also occur in at least one OTHER document, and emit the
    duplicated-passage fraction — the filter signal for boilerplate-heavy
    corpora where whole-doc dedup misses repeated intra-page fragments.

    Scale: the passage doc-frequency table is a two-level aggregation
    (per-(doc, passage) first, so a doc repeating its own passage doesn't
    inflate the doc count), then one equi-join back on the passage key —
    both shuffles key on the passage text, which is high-cardinality and
    skew-free. At 100 TB you'd join on ``xxhash64(passage)`` to shrink
    shuffle width (same shape; the string key here keeps the oracle
    hash-checkable). Library form: :func:`..ops.passage_dup_stats`.
    """
    from ..ops import passage_dup_stats

    d = load_table(spark, sf_dir, "documents")
    return passage_dup_stats(d, "doc_id", "text", passage_tokens=_PASSAGE_W)


_SPAN_W = 16  # sliding-span window width (tokens)


@DEDUP.register(
    "duplicated_span_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), spans AS (
      SELECT doc_id,
             array_to_string(t[i:i+{_SPAN_W - 1}], ' ') AS span
      FROM tok, unnest(generate_series(1, len(t) - {_SPAN_W - 1}, 1)) AS g(i)
      WHERE len(t) >= {_SPAN_W}
    ), per_doc AS (
      SELECT doc_id, span, COUNT(*) AS m
      FROM spans GROUP BY doc_id, span
    ), sdf AS (
      SELECT span, COUNT(*) AS n_docs_with
      FROM per_doc GROUP BY span
    )
    SELECT per_doc.doc_id,
           CAST(SUM(m) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN n_docs_with >= 2 THEN m ELSE 0 END)
                AS BIGINT) AS n_dup_passages,
           CAST(SUM(CASE WHEN n_docs_with >= 2 THEN m ELSE 0 END) AS DOUBLE)
             / SUM(m) AS dup_frac
    FROM per_doc JOIN sdf USING (span)
    GROUP BY per_doc.doc_id
    """,
)
def duplicated_span_coverage(spark, sf_dir):
    """SLIDING-window duplicated-span signal (Lee et al., "Deduplicating
    Training Data"): every {16}-token window at stride 1, flagged when the
    identical span occurs in at least one other document. The fixed-chunk
    form (`passage_dedup_fraction`) misses a copied span that straddles a
    chunk boundary; the sliding form cannot — it is the distributed
    equivalent of the suffix-array substring-dedup pass LLM corpora get
    before training.

    Scale: same two-aggregation + equi-join shape as the chunked form,
    ×(window/stride) row amplification — the explode emits one row per
    window position, keyed on high-cardinality span text (at 100 TB:
    xxhash64(span) keys and stride >1 to trade recall granularity for
    shuffle width). Exact, fully SQL-expressible, full value oracle.
    """
    from ..ops import passage_dup_stats

    d = load_table(spark, sf_dir, "documents")
    return passage_dup_stats(
        d, "doc_id", "text", passage_tokens=_SPAN_W, stride=1
    )


@DEDUP.register(
    "passage_dedup_rewrite",
    # chunk-key packing: doc_id*100000 + chunk_idx is a portable
    # lexicographic (doc_id, chunk_idx) order key on both engines
    # (chunk_idx is bounded by tokens/32 ≪ 100000)
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), pas AS (
      SELECT doc_id,
             CAST((i - 1) / {_PASSAGE_W} AS BIGINT) AS chunk_idx,
             array_to_string(t[i:i+{_PASSAGE_W - 1}], ' ') AS passage
      FROM tok, unnest(generate_series(1, len(t), {_PASSAGE_W})) AS g(i)
      WHERE len(t) > 0
    ), win AS (
      SELECT passage,
             MIN(doc_id * 100000 + chunk_idx) AS wkey
      FROM pas GROUP BY passage
    ), kept AS (
      SELECT p.doc_id, p.chunk_idx, p.passage
      FROM pas p JOIN win USING (passage)
      WHERE p.doc_id * 100000 + p.chunk_idx = win.wkey
    ), totals AS (
      SELECT doc_id, COUNT(*) AS n_chunks FROM pas GROUP BY doc_id
    ), kc AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(passage, ' ' ORDER BY chunk_idx) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT totals.doc_id,
           CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(totals.n_chunks - COALESCE(kc.n_kept, 0) AS BIGINT)
             AS n_dropped,
           COALESCE(kc.clean_text, '') AS clean_text
    FROM totals LEFT JOIN kc USING (doc_id)
    """,
)
def passage_dedup_rewrite(spark, sf_dir):
    """Passage-level dedup MATERIALIZATION — the stage that actually
    rewrites the corpus (the fraction query above only scores it): every
    32-token passage keeps exactly its first global occurrence (ordered by
    (doc_id, chunk_idx)); later occurrences — across documents or repeated
    within one — are cut, and each document's cleaned text is reassembled
    from its surviving chunks in order.

    Scale: same two passage-keyed shuffles as the fraction query (winner
    per passage, join back) plus one per-doc reassembly aggregation; the
    reassembly is keyed on doc_id, so its width is the document count, and
    no stage ever holds more than a doc's chunks in one group. At 100 TB
    the passage key becomes xxhash64(passage) (string keys here keep the
    oracle hash-checkable).
    """
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    chunks = exploded_rows(
        d.select("doc_id", t.alias("t")).filter(F.size("t") > 0),
        ["doc_id"],
        F.expr(
            f"transform(sequence(1, size(t), {_PASSAGE_W}),"
            f" i -> struct(cast((i - 1) div {_PASSAGE_W} as bigint)"
            f"             as chunk_idx,"
            f"             array_join(slice(t, i, {_PASSAGE_W}), ' ')"
            f"             as passage))"
        ),
        "c",
    ).select("doc_id", "c.chunk_idx", "c.passage").localCheckpoint(
        eager=False
    )  # three consumers (winners, keep-join, totals): tokenize+chunk once
    key = F.col("doc_id") * F.lit(100000) + F.col("chunk_idx")
    winners = chunks.groupBy("passage").agg(F.min(key).alias("wkey"))
    kept = chunks.join(winners, "passage").filter(key == F.col("wkey"))
    totals = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    kc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "passage"))),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return totals.join(kc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_dropped"
        ),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


_INCR_NEW_MOD = 7  # docs with doc_id % 7 == 0 play the "incoming batch"
_INCR_THRESHOLD = 0.9


@DEDUP.register(
    "dedup_incremental_new_batch",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS toks
      FROM documents
    ), new_batch AS (
      SELECT * FROM tok WHERE doc_id % {_INCR_NEW_MOD} = 0
    ), corpus AS (
      SELECT * FROM tok WHERE doc_id % {_INCR_NEW_MOD} <> 0
    )
    SELECT n.doc_id AS new_doc_id, c.doc_id AS dup_of,
           CAST(len(list_intersect(n.toks, c.toks)) AS DOUBLE)
             / (len(n.toks) + len(c.toks)
                - len(list_intersect(n.toks, c.toks))) AS jaccard
    FROM new_batch n JOIN corpus c ON n.lang = c.lang
    WHERE CAST(len(list_intersect(n.toks, c.toks)) AS DOUBLE)
            / (len(n.toks) + len(c.toks)
               - len(list_intersect(n.toks, c.toks))) >= {_INCR_THRESHOLD}
    """,
)
def dedup_incremental_new_batch(spark, sf_dir):
    """Incremental dedup: match an incoming document batch against the
    already-ingested corpus WITHOUT re-deduplicating the corpus against
    itself — the steady-state shape of a production ingest pipeline (the
    corpus is deduped once; every arriving batch only needs new-vs-corpus
    checks plus a cheap new-vs-new pass).

    The batch is simulated as ``doc_id % 7 == 0``; output is every
    (new doc, corpus doc) pair at token-set Jaccard ≥ 0.9.

    Scale: the asymmetric join is the point — the new batch is orders of
    magnitude smaller than the corpus, so it is broadcast (a deliberate,
    bounded broadcast: a batch is what fits an ingest window, unlike the
    SF-scaling dimension tables whose hints round 4 removed) and the 100 TB
    corpus streams past it with no shuffle at all. Blocking by lang bounds
    the per-row compare count; a same-block prefix-filter (as in
    `neardup_jaccard_pairs`) drops in if batches grow.
    """
    from ..ops import incremental_neardup

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", distinct_tokens(F.col("text")).alias("toks")
    )
    return incremental_neardup(
        tok.filter(F.col("doc_id") % _INCR_NEW_MOD == 0),
        tok.filter(F.col("doc_id") % _INCR_NEW_MOD != 0),
        "doc_id",
        "toks",
        block_col="lang",
        threshold=_INCR_THRESHOLD,
    ).select(
        F.col("new_id").alias("new_doc_id"),
        F.col("corpus_id").alias("dup_of"),
        "jaccard",
    )


@DEDUP.register(
    "cross_source_overlap",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, source,
             list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM tok a JOIN tok b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
            >= 0.9
    )
    SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
           COUNT(*) AS n_pairs
    FROM pairs GROUP BY 1, 2
    """,
)
def cross_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix: for every pair of sources, how many
    near-duplicate document pairs (Jaccard >= 0.9) they share — the
    diagnostic that tells you which crawls/mirrors are copying each other
    and should be collapsed before mixture weighting. The diagonal
    (source_a = source_b) measures within-source redundancy.

    Scale: rides the prefix-filter index join of `neardup_jaccard_pairs`
    (no all-pairs work), then two cheap hash-joins to attach sources and a
    tiny |sources|^2-bounded aggregate.
    """
    pairs = neardup_jaccard_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_MH_PERMS = 32  # md5-variant permutation count (8 bands x 4 rows)
_MH_BAND_W = 4


@DEDUP.register(
    "dedup_minhash_md5_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM tok, unnest(generate_series(1, greatest(len(t) - 2, 0)))
             AS g(i)
    ), hh AS (
      -- Kirsch-Mitzenmacher: K functions from TWO md5 draws per shingle,
      -- h_p = (h1 + p*h2) mod P with P = 2^31 - 1 (products stay in i64)
      SELECT doc_id,
             CAST('0x' || substring(md5('1:' || shingle), 1, 15)
                  AS BIGINT) % 2147483647 AS h1,
             CAST('0x' || substring(md5('2:' || shingle), 1, 15)
                  AS BIGINT) % 2147483647 AS h2
      FROM sh
    ), mh AS (
      SELECT doc_id, p, MIN((h1 + p * h2) % 2147483647) AS mh
      FROM hh, unnest(generate_series(0, {_MH_PERMS - 1})) AS g(p)
      GROUP BY doc_id, p
    ), bands AS (
      SELECT doc_id, p // {_MH_BAND_W} AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS sig
      FROM mh GROUP BY doc_id, p // {_MH_BAND_W}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, est_jaccard FROM (
      SELECT c.doc_a, c.doc_b,
             round(CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
                        AS DOUBLE) / {_MH_PERMS}, 9) AS est_jaccard
      FROM cand c
        JOIN mh x ON x.doc_id = c.doc_a
        JOIN mh y ON y.doc_id = c.doc_b AND y.p = x.p
      GROUP BY c.doc_a, c.doc_b
    ) WHERE est_jaccard >= 0.8
    """,
)
def dedup_minhash_md5_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs with a FULL value oracle: the same
    structure as the production ``dedup_minhash_pairs`` — 3-word shingles,
    {32} min-hashes in 8 bands of 4, band-equality candidate join,
    signature-agreement estimate ≥ 0.8 — but the two
    Kirsch-Mitzenmacher base hashes are md5-derived, which DuckDB can
    compute; xxhash64 (the production choice, ~2× cheaper per digest)
    cannot be mirrored. This query
    exists so the ALGORITHM — every minhash value, band signature,
    candidate pair, and similarity estimate — is hash-checked
    cross-engine rather than pinned only by recall tests.

    Shingle-rule deviation (deliberate): this twin uses
    :func:`strict_shingles` — documents with fewer than {3} tokens emit
    NO shingles and drop from the pair universe — while the production
    variant's :func:`partial_shingles` keeps one partial shingle for
    1–2-token docs. Both engines of THIS query apply the strict rule
    (the oracle's generate_series mirrors it), so parity is exact; the
    production partial-shingle boundary is pinned separately by
    `tests/test_minhash_shingles.py`.

    Scale: identical shape — shingle explode (codegen'd), map-side
    combined min per (doc, perm), banded equi-self-join (output bounded
    by true band collisions), per-pair agreement count. No cartesian.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens(F.col("text")).alias("t"))
    sh = exploded_rows(tok, ["doc_id"], strict_shingles("t"), "shingle")

    def _mdh(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col("shingle"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % F.lit(2147483647)
        )

    # Kirsch-Mitzenmacher double hashing, exactly like the production
    # variant: TWO md5 draws per shingle, K derived functions — 16x fewer
    # digest evaluations than hashing (p, shingle) per permutation
    hh = sh.select("doc_id", _mdh("1:").alias("h1"), _mdh("2:").alias("h2"))
    perms = exploded_rows(
        hh,
        ["doc_id", "h1", "h2"],
        F.expr(f"sequence(0, {_MH_PERMS - 1})"),
        "p",
    )
    mh = (
        perms.select(
            "doc_id",
            "p",
            (
                (F.col("h1") + F.col("p") * F.col("h2"))
                % F.lit(2147483647)
            ).alias("h"),
        )
        .groupBy("doc_id", "p")
        .agg(F.min("h").alias("mh"))
        .localCheckpoint(eager=False)
    )
    bands = (
        mh.withColumn("band", (F.col("p") / _MH_BAND_W).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("p", "mh"))),
                        lambda st: st["mh"].cast("string"),
                    ),
                )
            ).alias("sig")
        )
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", F.col("sig").alias("sa")
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("sig").alias("sb"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("sa") == F.col("sb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = mh.select(
        F.col("doc_id").alias("doc_a"), "p", F.col("mh").alias("mx")
    )
    y = mh.select(
        F.col("doc_id").alias("yb"),
        F.col("p").alias("py"),
        F.col("mh").alias("my"),
    )
    return (
        cand.join(x, "doc_a")
        .join(
            y,
            (F.col("doc_b") == F.col("yb")) & (F.col("p") == F.col("py")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("mx") == F.col("my"), 1).otherwise(0)
                ).cast("double")
                / _MH_PERMS,
                9,
            ).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= 0.8)
    )


@DEDUP.register(
    "dedup_simhash_md5_pairs",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
      FROM tok
    ), votes AS (
      SELECT doc_id,
             SUM(((h >> 0) & 1) * 2 - 1) AS v0,
             SUM(((h >> 1) & 1) * 2 - 1) AS v1,
             SUM(((h >> 2) & 1) * 2 - 1) AS v2,
             SUM(((h >> 3) & 1) * 2 - 1) AS v3,
             SUM(((h >> 4) & 1) * 2 - 1) AS v4,
             SUM(((h >> 5) & 1) * 2 - 1) AS v5,
             SUM(((h >> 6) & 1) * 2 - 1) AS v6,
             SUM(((h >> 7) & 1) * 2 - 1) AS v7,
             SUM(((h >> 8) & 1) * 2 - 1) AS v8,
             SUM(((h >> 9) & 1) * 2 - 1) AS v9,
             SUM(((h >> 10) & 1) * 2 - 1) AS v10,
             SUM(((h >> 11) & 1) * 2 - 1) AS v11,
             SUM(((h >> 12) & 1) * 2 - 1) AS v12,
             SUM(((h >> 13) & 1) * 2 - 1) AS v13,
             SUM(((h >> 14) & 1) * 2 - 1) AS v14,
             SUM(((h >> 15) & 1) * 2 - 1) AS v15,
             SUM(((h >> 16) & 1) * 2 - 1) AS v16,
             SUM(((h >> 17) & 1) * 2 - 1) AS v17,
             SUM(((h >> 18) & 1) * 2 - 1) AS v18,
             SUM(((h >> 19) & 1) * 2 - 1) AS v19,
             SUM(((h >> 20) & 1) * 2 - 1) AS v20,
             SUM(((h >> 21) & 1) * 2 - 1) AS v21,
             SUM(((h >> 22) & 1) * 2 - 1) AS v22,
             SUM(((h >> 23) & 1) * 2 - 1) AS v23,
             SUM(((h >> 24) & 1) * 2 - 1) AS v24,
             SUM(((h >> 25) & 1) * 2 - 1) AS v25,
             SUM(((h >> 26) & 1) * 2 - 1) AS v26,
             SUM(((h >> 27) & 1) * 2 - 1) AS v27,
             SUM(((h >> 28) & 1) * 2 - 1) AS v28,
             SUM(((h >> 29) & 1) * 2 - 1) AS v29,
             SUM(((h >> 30) & 1) * 2 - 1) AS v30,
             SUM(((h >> 31) & 1) * 2 - 1) AS v31,
             SUM(((h >> 32) & 1) * 2 - 1) AS v32,
             SUM(((h >> 33) & 1) * 2 - 1) AS v33,
             SUM(((h >> 34) & 1) * 2 - 1) AS v34,
             SUM(((h >> 35) & 1) * 2 - 1) AS v35,
             SUM(((h >> 36) & 1) * 2 - 1) AS v36,
             SUM(((h >> 37) & 1) * 2 - 1) AS v37,
             SUM(((h >> 38) & 1) * 2 - 1) AS v38,
             SUM(((h >> 39) & 1) * 2 - 1) AS v39,
             SUM(((h >> 40) & 1) * 2 - 1) AS v40,
             SUM(((h >> 41) & 1) * 2 - 1) AS v41,
             SUM(((h >> 42) & 1) * 2 - 1) AS v42,
             SUM(((h >> 43) & 1) * 2 - 1) AS v43,
             SUM(((h >> 44) & 1) * 2 - 1) AS v44,
             SUM(((h >> 45) & 1) * 2 - 1) AS v45,
             SUM(((h >> 46) & 1) * 2 - 1) AS v46,
             SUM(((h >> 47) & 1) * 2 - 1) AS v47,
             SUM(((h >> 48) & 1) * 2 - 1) AS v48,
             SUM(((h >> 49) & 1) * 2 - 1) AS v49,
             SUM(((h >> 50) & 1) * 2 - 1) AS v50,
             SUM(((h >> 51) & 1) * 2 - 1) AS v51,
             SUM(((h >> 52) & 1) * 2 - 1) AS v52,
             SUM(((h >> 53) & 1) * 2 - 1) AS v53,
             SUM(((h >> 54) & 1) * 2 - 1) AS v54,
             SUM(((h >> 55) & 1) * 2 - 1) AS v55,
             SUM(((h >> 56) & 1) * 2 - 1) AS v56,
             SUM(((h >> 57) & 1) * 2 - 1) AS v57,
             SUM(((h >> 58) & 1) * 2 - 1) AS v58,
             SUM(((h >> 59) & 1) * 2 - 1) AS v59
      FROM hashed GROUP BY doc_id
    ), sim AS (
      SELECT doc_id,
             (CASE WHEN v0 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v1 > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v2 > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v3 > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v4 > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v5 > 0 THEN 32 ELSE 0 END)
             + (CASE WHEN v6 > 0 THEN 64 ELSE 0 END)
             + (CASE WHEN v7 > 0 THEN 128 ELSE 0 END)
             + (CASE WHEN v8 > 0 THEN 256 ELSE 0 END)
             + (CASE WHEN v9 > 0 THEN 512 ELSE 0 END)
             + (CASE WHEN v10 > 0 THEN 1024 ELSE 0 END)
             + (CASE WHEN v11 > 0 THEN 2048 ELSE 0 END)
             + (CASE WHEN v12 > 0 THEN 4096 ELSE 0 END)
             + (CASE WHEN v13 > 0 THEN 8192 ELSE 0 END)
             + (CASE WHEN v14 > 0 THEN 16384 ELSE 0 END)
             + (CASE WHEN v15 > 0 THEN 32768 ELSE 0 END)
             + (CASE WHEN v16 > 0 THEN 65536 ELSE 0 END)
             + (CASE WHEN v17 > 0 THEN 131072 ELSE 0 END)
             + (CASE WHEN v18 > 0 THEN 262144 ELSE 0 END)
             + (CASE WHEN v19 > 0 THEN 524288 ELSE 0 END)
             + (CASE WHEN v20 > 0 THEN 1048576 ELSE 0 END)
             + (CASE WHEN v21 > 0 THEN 2097152 ELSE 0 END)
             + (CASE WHEN v22 > 0 THEN 4194304 ELSE 0 END)
             + (CASE WHEN v23 > 0 THEN 8388608 ELSE 0 END)
             + (CASE WHEN v24 > 0 THEN 16777216 ELSE 0 END)
             + (CASE WHEN v25 > 0 THEN 33554432 ELSE 0 END)
             + (CASE WHEN v26 > 0 THEN 67108864 ELSE 0 END)
             + (CASE WHEN v27 > 0 THEN 134217728 ELSE 0 END)
             + (CASE WHEN v28 > 0 THEN 268435456 ELSE 0 END)
             + (CASE WHEN v29 > 0 THEN 536870912 ELSE 0 END)
             + (CASE WHEN v30 > 0 THEN 1073741824 ELSE 0 END)
             + (CASE WHEN v31 > 0 THEN 2147483648 ELSE 0 END)
             + (CASE WHEN v32 > 0 THEN 4294967296 ELSE 0 END)
             + (CASE WHEN v33 > 0 THEN 8589934592 ELSE 0 END)
             + (CASE WHEN v34 > 0 THEN 17179869184 ELSE 0 END)
             + (CASE WHEN v35 > 0 THEN 34359738368 ELSE 0 END)
             + (CASE WHEN v36 > 0 THEN 68719476736 ELSE 0 END)
             + (CASE WHEN v37 > 0 THEN 137438953472 ELSE 0 END)
             + (CASE WHEN v38 > 0 THEN 274877906944 ELSE 0 END)
             + (CASE WHEN v39 > 0 THEN 549755813888 ELSE 0 END)
             + (CASE WHEN v40 > 0 THEN 1099511627776 ELSE 0 END)
             + (CASE WHEN v41 > 0 THEN 2199023255552 ELSE 0 END)
             + (CASE WHEN v42 > 0 THEN 4398046511104 ELSE 0 END)
             + (CASE WHEN v43 > 0 THEN 8796093022208 ELSE 0 END)
             + (CASE WHEN v44 > 0 THEN 17592186044416 ELSE 0 END)
             + (CASE WHEN v45 > 0 THEN 35184372088832 ELSE 0 END)
             + (CASE WHEN v46 > 0 THEN 70368744177664 ELSE 0 END)
             + (CASE WHEN v47 > 0 THEN 140737488355328 ELSE 0 END)
             + (CASE WHEN v48 > 0 THEN 281474976710656 ELSE 0 END)
             + (CASE WHEN v49 > 0 THEN 562949953421312 ELSE 0 END)
             + (CASE WHEN v50 > 0 THEN 1125899906842624 ELSE 0 END)
             + (CASE WHEN v51 > 0 THEN 2251799813685248 ELSE 0 END)
             + (CASE WHEN v52 > 0 THEN 4503599627370496 ELSE 0 END)
             + (CASE WHEN v53 > 0 THEN 9007199254740992 ELSE 0 END)
             + (CASE WHEN v54 > 0 THEN 18014398509481984 ELSE 0 END)
             + (CASE WHEN v55 > 0 THEN 36028797018963968 ELSE 0 END)
             + (CASE WHEN v56 > 0 THEN 72057594037927936 ELSE 0 END)
             + (CASE WHEN v57 > 0 THEN 144115188075855872 ELSE 0 END)
             + (CASE WHEN v58 > 0 THEN 288230376151711744 ELSE 0 END)
             + (CASE WHEN v59 > 0 THEN 576460752303423488 ELSE 0 END) AS simhash
      FROM votes
    ), bands AS (
      SELECT doc_id, simhash, k AS band,
             (simhash >> (15 * k)) & 32767 AS bval
      FROM sim, unnest(generate_series(0, 3)) AS g(k)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_md5_pairs(spark, sf_dir):
    """SimHash near-dup with a FULL value oracle: the production
    ``dedup_simhash_pairs`` algorithm — per-token bit votes, banded
    candidate generation, Hamming ≤ 3 verify (Manku et al. WWW'07; with 4
    disjoint bands any pair at Hamming ≤ 3 matches at least one band
    exactly, so candidate recall is 100%) — built on a 60-bit md5-derived
    token hash (15 hex chars) instead of xxhash64, so DuckDB re-derives
    every vote, fingerprint bit, band bucket, and verified pair. Four
    15-bit bands preserve the distance-3 guarantee; 60 positive bits also
    drop the sign-bit packing special case the 64-bit variant needs.

    Scale: identical shape to production — one token explode, ONE
    map-side-combined 60-aggregate pass (no per-bit explode), band
    equi-self-join bounded by true bucket collisions, and an O(1)-per-pair
    bit_count verify. No cartesian anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = exploded_rows(
        d.select("doc_id", distinct_tokens(F.col("text")).alias("t")),
        ["doc_id"],
        F.col("t"),
        "tok",
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"),
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{b}".format(b=b))
            for b in range(60)
        ]
    )
    packed = votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"v{b}".format(b=b)) > 0, F.lit(1 << b))
                .otherwise(F.lit(0))
                .cast("long")
                for b in range(60)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    ).localCheckpoint(eager=False)
    bands = packed.select(
        "doc_id",
        "simhash",
        F.explode(F.expr("sequence(0, 3)")).alias("band"),
    ).withColumn(
        "bval",
        # shiftright() takes only literal bit counts; the SQL form accepts
        # a column expression
        F.expr("(simhash >> (band * 15)) & 32767"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sa"),
        "band",
        F.col("bval").alias("ba"),
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sb"),
        F.col("band").alias("band_b"),
        F.col("bval").alias("bb"),
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("ba") == F.col("bb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sa").bitwiseXOR(F.col("sb"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


_PR_DAMPING = 0.85
_PR_ITERS = 10
_PR_TOPK = 25


@DEDUP.register(
    "neardup_graph_pagerank",
    # f-string so damping/iterations/top-k stay synchronized with the Spark
    # implementation's _PR_* constants (advisor r6: hard-coded literals would
    # silently desynchronize oracle and implementation on a constant change).
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, lang,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
      FROM documents
    ), prs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))) >= 0.9
    ), edges AS (
      SELECT u, v FROM prs UNION ALL SELECT v, u FROM prs
    ), verts AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS idx
      FROM documents
    ), degs AS (
      SELECT u AS doc_id, COUNT(*) AS d FROM edges GROUP BY u
    ), adj AS (
      SELECT vd.idx AS dst_idx, list(vs.idx ORDER BY vs.idx) AS nbrs
      FROM edges e
      JOIN verts vs ON vs.doc_id = e.u
      JOIN verts vd ON vd.doc_id = e.v
      GROUP BY vd.idx
    ), pernode AS (
      SELECT v.doc_id, v.idx,
             COALESCE(dg.d, 0) AS deg,
             COALESCE(a.nbrs, []) AS nbrs
      FROM verts v
      LEFT JOIN degs dg ON dg.doc_id = v.doc_id
      LEFT JOIN adj a ON a.dst_idx = v.idx
    ), packed AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN deg = 0 THEN 1 ELSE 0 END) AS n0,
             list(doc_id ORDER BY idx) AS ids,
             list(CAST(deg AS BIGINT) ORDER BY idx) AS degl,
             list(nbrs ORDER BY idx) AS adjl
      FROM pernode
    ), pr(k, ranks, rdang) AS (
      SELECT 0, list_transform(ids, x -> 1.0 / n), 1.0 / n FROM packed
      UNION ALL
      SELECT k + 1,
             list_transform(adjl, nb ->
               (1.0 - {_PR_DAMPING}) / n + {_PR_DAMPING} * (n0 * rdang) / n
               + {_PR_DAMPING} * COALESCE(
                   list_sum(list_transform(nb, j -> ranks[j] / degl[j])),
                   0.0)),
             (1.0 - {_PR_DAMPING}) / n + {_PR_DAMPING} * (n0 * rdang) / n
      FROM pr, packed WHERE k < {_PR_ITERS}
    ), final AS (
      SELECT unnest(ids) AS doc_id,
             unnest(degl) AS deg,
             unnest(list_transform(ranks, r -> round(r * n, 9)))
               AS rank_x_n
      FROM pr, packed WHERE k = {_PR_ITERS}
    )
    SELECT doc_id, deg, rank_x_n
    FROM final ORDER BY rank_x_n DESC, doc_id LIMIT {_PR_TOPK}
    """,
)
def neardup_graph_pagerank(spark, sf_dir):
    """PageRank over the near-duplicate graph: rank every document by its
    centrality in the verified Jaccard pair graph — the "most-duplicated
    template" detector (high-rank docs sit at the center of dense near-dup
    clusters; curation pipelines review those few templates instead of
    millions of individual members). Reuses the memoized pair table
    (`neardup_jaccard_pairs.memo`), so after any dedup query has run, the graph
    build costs nothing.

    Fixed 10 iterations, damping 0.85. Dangling mass (isolated docs —
    roughly half this corpus) follows a closed-form recurrence
    (undirected graph ⇒ all degree-0 ranks are equal), folded back
    uniformly so total rank mass stays 1.0. A pair graph and document set
    of at most ``ops.GRAPH_LOCAL_MAX`` rows each are collected once and
    iterated in numpy (``ops.pagerank_local``, the same arithmetic); the
    (doc_id, deg, rank) result comes back as one frame for the rounding,
    ordering and limit below. Above the budget each iteration is the
    distributed classic: contributions = edges ⋈ ranks on src, summed per
    dst (one shuffle, map-side combined), lineage truncated with a
    localCheckpoint per round.

    Oracle (round-6 upgrade, rows-only -> full value check): the whole
    power iteration re-runs inside DuckDB as a recursive-CTE fold over
    ALIGNED LISTS — ranks, degrees, and in-neighbor index lists packed
    into one row, each iteration a `list_transform` whose arithmetic
    mirrors the Spark expression term-for-term (same `(1.0 - 0.85) / n`
    literal construction, same `n0 * rdang` dangling closed form, same
    round(rank*n, 9) quantization) — the Holt list-accumulator precedent
    (operators/misc.py) applied to a graph recurrence. Contribution sums
    may differ from Spark's partition reduce order in trailing ulps; the
    9-decimal quantization collapses that ~1e-14 noise two orders below
    the comparison granularity. tests/test_pagerank.py additionally pins
    ranks against a dense numpy power iteration of the SAME Google
    matrix (atol 1e-9) plus the mass-conservation invariant.
    """
    from ..ops import collect_bounded, local_frame, pagerank_local

    d = load_table(spark, sf_dir, "documents")
    pairs = neardup_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    local = collect_bounded(pairs, "doc_a", "doc_b")
    docs = collect_bounded(d, "doc_id") if local is not None else None
    ids = docs.column(0).to_numpy() if docs is not None else None
    if ids is not None and len(np.unique(ids)) == len(ids):
        deg, rank = pagerank_local(
            ids,
            local.column(0).to_numpy(),
            local.column(1).to_numpy(),
            _PR_DAMPING,
            _PR_ITERS,
        )
        ranks = local_frame(
            spark,
            {"doc_id": ids, "deg": deg, "rank": rank},
            StructType([d.schema["doc_id"]])
            .add("deg", LongType(), False)
            .add("rank", DoubleType(), False),
        )
        return _pagerank_top(ranks, len(ids))
    n_docs = d.count()
    # Size the iteration shuffles from the graph, not the session default:
    # ten iterations each pay (tasks × fixed overhead), so a near-dup
    # graph of ~10⁵ edges wants a handful of partitions (measured 7.3 s →
    # 3.8 s at sf0.1 going 32 → 4) while a 100 TB corpus' billions of
    # edges scale the same formula into the thousands. Edges are hash-
    # partitioned on src ONCE; ranks/contrib inherit doc_id partitioning
    # from their producing join/agg, so each iteration shuffles only the
    # groupBy(dst) output, at this width.
    n_edges = 2 * pairs.count()
    nparts = max(
        4,
        min(spark.sparkContext.defaultParallelism, n_edges // 500_000 + 1),
    )
    # undirected -> both directions, one row per (src, dst)
    edges = (
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .repartition(nparts, "src")
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    verts = (
        d.select("doc_id")
        .join(deg.withColumnRenamed("src", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("deg", F.lit(0)).alias("deg"))
        .repartition(nparts, "doc_id")
        .localCheckpoint(eager=False)
    )

    ranks = verts.select(
        "doc_id", "deg", F.lit(1.0 / n_docs).alias("rank")
    ).localCheckpoint()
    base = (1.0 - _PR_DAMPING) / n_docs
    # Dangling-mass closed form: the graph is UNDIRECTED, so a degree-0
    # node never receives contributions and every dangling node carries the
    # identical rank r_k (a literal in the plan). The per-iteration
    # aggregate sum(rank WHERE deg=0) therefore collapses to the scalar
    # recurrence r_{k+1} = base + d·(n0·r_k)/n — one count() up front
    # instead of a driver collect job per iteration (halved the job count;
    # 7.7 s → see bench).
    n_dangling = verts.filter(F.col("deg") == 0).count()
    rank_dangling = 1.0 / n_docs
    for _ in range(_PR_ITERS):
        dangling = n_dangling * rank_dangling
        contrib = (
            edges.join(
                ranks.withColumnRenamed("doc_id", "src"), "src"
            )
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            verts.join(
                contrib.withColumnRenamed("dst", "doc_id"), "doc_id", "left"
            )
            .select(
                "doc_id",
                "deg",
                (
                    F.lit(base + _PR_DAMPING * dangling / n_docs)
                    + F.lit(_PR_DAMPING)
                    * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        rank_dangling = base + _PR_DAMPING * dangling / n_docs
    return _pagerank_top(ranks, n_docs)


def _pagerank_top(ranks, n_docs):
    """The top ``_PR_TOPK`` of a (doc_id, deg, rank) frame by rank × n.

    Order by the ROUNDED rank (9 decimals), not the raw double: nodes in
    symmetric graph positions (e.g. both ends of an isolated near-dup
    pair) have mathematically equal ranks whose float sums differ only in
    trailing ulps that depend on summation order — rounding collapses
    those into true ties broken deterministically by doc_id."""
    scaled = F.round(F.col("rank") * n_docs, 9).alias("rank_x_n")
    return (
        ranks.select("doc_id", "deg", scaled)
        .orderBy(F.col("rank_x_n").desc(), F.col("doc_id"))
        .limit(_PR_TOPK)
    )


@DEDUP.register(
    "neardup_graph_assortativity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))) >= 0.9
    ), edges AS (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ), deg AS (
      SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY u
    ), ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), agg AS (
      SELECT COUNT(*) AS m,
             CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
                  AS DOUBLE) AS syy
      FROM ends
    )
    -- degenerate guard: a REGULAR near-dup graph (every node the same
    -- degree — e.g. a corpus whose duplicates are all isolated pairs)
    -- has zero degree variance, so r is undefined: NULL, not a Spark
    -- ANSI DIVIDE_BY_ZERO crash; greatest(,0) absorbs -epsilon rounding
    SELECT CAST(m AS BIGINT) AS n_directed_edges,
           CASE WHEN sqrt(greatest(m * sxx - sx * sx, 0.0))
                     * sqrt(greatest(m * syy - sy * sy, 0.0)) > 0
                THEN round((m * sxy - sx * sy)
                           / (sqrt(greatest(m * sxx - sx * sx, 0.0))
                              * sqrt(greatest(m * syy - sy * sy, 0.0))), 9)
           END AS assortativity
    FROM agg
    """,
)
def neardup_graph_assortativity(spark, sf_dir):
    """Degree assortativity of the near-duplicate graph — the Pearson
    correlation of degrees across edge endpoints (Newman's r): strongly
    positive means big template clusters link mostly to each other
    (near-clique duplication, the cheap-to-dedup case); negative means
    hub-and-spoke boilerplate (one canonical page quoted by many
    singletons — the case where canonical selection matters). Reads the
    memoized verified pair table, so after any dedup query the graph is
    free.

    Determinism: degrees are integers; all five moments are exact
    decimal sums over the directed edge list (both orientations, the
    standard symmetrization); r is one closed-form double, rounded 9.
    Scale: one degree aggregation + two joins of the edge list against
    the skinny degree table + a single scalar aggregate.
    """
    pairs = neardup_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("y"))
    ends = edges.join(du, "u").join(dv, "v")
    dx = F.col("x").cast("decimal(18,0)")
    dy = F.col("y").cast("decimal(18,0)")
    agg = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
    )
    # degenerate guard (mirrored in the oracle): a REGULAR graph (all
    # degrees equal — e.g. every duplicate cluster an isolated pair) has
    # zero degree variance; r is undefined -> NULL, not a Spark ANSI
    # DIVIDE_BY_ZERO crash. greatest(,0) absorbs -epsilon rounding at
    # zero variance (DuckDB raises on sqrt(negative), Spark yields NaN).
    den = F.sqrt(
        F.greatest(
            F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"),
            F.lit(0.0),
        )
    ) * F.sqrt(
        F.greatest(
            F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"),
            F.lit(0.0),
        )
    )
    r = F.when(
        den > 0,
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    return agg.select(
        F.col("m").alias("n_directed_edges"),
        F.round(r, 9).alias("assortativity"),
    )


@DEDUP.register(
    "neardup_cluster_modularity",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT doc_id, lang,
             list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))) >= 0.9
    ), edges AS (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ), reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), labels AS (
      SELECT u AS node, MIN(v) AS cluster FROM reach GROUP BY u
    ), m AS (
      SELECT COUNT(*) AS m FROM pairs
    ), intra AS (
      SELECT COUNT(*) AS a_intra
      FROM pairs
      JOIN labels lu ON lu.node = pairs.u
      JOIN labels lv ON lv.node = pairs.v
      WHERE lu.cluster = lv.cluster
    ), degs AS (
      SELECT labels.cluster, COUNT(*) AS d
      FROM edges JOIN labels ON labels.node = edges.u
      GROUP BY labels.cluster
    ), b AS (
      SELECT SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)))
               AS b_sum,
             COUNT(*) AS n_clusters_with_edges
      FROM degs
    )
    SELECT CAST(m.m AS BIGINT) AS n_edges,
           CAST(b.n_clusters_with_edges AS BIGINT) AS n_clusters_with_edges,
           CAST(intra.a_intra AS BIGINT) AS n_intra_edges,
           CASE WHEN m.m = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(CAST(intra.a_intra AS DOUBLE) / m.m
                     - CAST(b.b_sum AS DOUBLE) / (4.0 * m.m * m.m), 9)
           END AS modularity
    FROM m, intra, b
    """,
)
def neardup_cluster_modularity(spark, sf_dir):
    """Newman modularity Q of the connected-component dedup clustering
    over the near-dup graph: Q = L_intra/m − Σ_c d_c²/(4m²) — the quality
    score OF the clustering itself (Q near its maximum says the CC
    partition matches the graph's community structure; for CC on its own
    graph every edge is intra, so Q = 1 − Σd_c²/4m² measures how evenly
    duplication mass spreads across clusters — one giant template cluster
    drives Q toward 0). Complements `neardup_graph_assortativity`'s
    edge-level view with a partition-level one.

    Determinism: every input to Q is an exact integer (edge count,
    intra-edge count, exact-decimal Σd²); Q is one closed-form double,
    rounded 9. Scale: reads the memoized pair table and CC label memo —
    after any dedup query both are free — then two label joins and a
    cluster-keyed aggregate bounded by |clusters|.
    """
    pairs = neardup_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_label_table(spark, sf_dir)
    m = pairs.count()
    lu = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("__cu")
    )
    lv = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("__cv")
    )
    intra = (
        pairs.join(lu, "doc_a")
        .join(lv, "doc_b")
        .filter(F.col("__cu") == F.col("__cv"))
        .count()
    )
    edges = pairs.select(F.col("doc_a").alias("u")).unionByName(
        pairs.select(F.col("doc_b").alias("u"))
    )
    degs = (
        edges.join(
            labels.withColumnRenamed("doc_id", "u"), "u"
        )
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    b = degs.agg(
        F.sum(
            F.col("d").cast("decimal(38,0)") * F.col("d").cast("decimal(38,0)")
        ).alias("b_sum"),
        F.count(F.lit(1)).alias("n_clusters_with_edges"),
    )
    if m == 0:
        # Empty near-dup graph (plausible on a small or regenerated
        # corpus): modularity is undefined — emit an explicit zero-edge
        # row with NULL Q instead of dividing by zero on the driver.
        # The oracle's CASE WHEN m = 0 branch mirrors this exactly.
        return b.select(
            F.lit(0).alias("n_edges"),
            F.col("n_clusters_with_edges"),
            F.lit(0).alias("n_intra_edges"),
            F.lit(None).cast("double").alias("modularity"),
        )
    return b.select(
        F.lit(m).alias("n_edges"),
        F.col("n_clusters_with_edges"),
        F.lit(intra).alias("n_intra_edges"),
        F.round(
            F.lit(float(intra) / m)
            - F.col("b_sum").cast("double") / (4.0 * m * m),
            9,
        ).alias("modularity"),
    )


_CHAIN_MAX_HOPS = 6  # BFS depth cap; members deeper than this -> level -1


@DEDUP.register(
    "dedup_chain_depth_report",
    # same tok/pairs/edges/reach CTE chain as _CC_ORACLE (bit-identical
    # edge definition), extended by a level-synchronous BFS from every
    # cluster canonical
    oracle=f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, lang,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
  FROM documents
), pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
), edges AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), labels AS (
  SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
), bfs(doc_id, lvl) AS (
  SELECT doc_id, 0 FROM labels WHERE doc_id = cluster_id
  UNION
  SELECT e.v, b.lvl + 1
  FROM bfs b JOIN edges e ON e.u = b.doc_id
  WHERE b.lvl < {_CHAIN_MAX_HOPS}
), lev AS (
  SELECT doc_id, CAST(MIN(lvl) AS INT) AS level FROM bfs GROUP BY doc_id
)
SELECT level, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM lev GROUP BY level
UNION ALL
SELECT -1, CAST(COUNT(*) AS BIGINT), MIN(d.doc_id), MAX(d.doc_id)
FROM documents d LEFT JOIN lev l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL
HAVING COUNT(*) > 0
""",
)
def dedup_chain_depth_report(spark, sf_dir):
    """Transitive-chaining drift audit over the near-dup clusters: BFS
    level of every document from ITS cluster's canonical (the min-id
    survivor `dedup_keep_canonical` retains). Near-dup clustering is
    transitive (A~B and B~C cluster A with C even when Jaccard(A,C) is
    below threshold), so chain depth measures how far a dropped member
    can drift from the document that "represents" it — level 1 members
    are direct near-dups of their survivor, level 3+ members survive only
    by chaining, and members beyond the 6-hop cap (level -1) are the
    pathological drift a curation pipeline reviews before trusting the
    keep/drop decision. Level 0 count = number of clusters = survivor
    count (singletons included).

    Scale: reuses the memoized pair table and CC label table (zero cost
    after any dedup query). A pair graph and seed set of at most
    ``ops.GRAPH_LOCAL_MAX`` rows each are collected once and the 6-hop
    BFS runs in numpy (``ops.bfs_levels_local``); the (doc_id, level)
    result comes back as one frame for the aggregates below. Above the
    budget, 6 frontier rounds — each ONE join of the (shrinking) frontier
    against the edge list plus an anti-join against visited, lineage
    truncated per round with a lazy localCheckpoint; no per-round driver
    jobs. Multi-source BFS cannot cross clusters (no inter-cluster edges by
    CC's definition), so per-round work is bounded by |edges|. Every
    output is an integer. Oracle: the _CC_ORACLE closure chain extended
    by a level-synchronous recursive BFS whose UNION dedup bounds the
    working set at |docs|x6 rows; MIN(lvl) per doc equals the
    frontier BFS's first-reach level.
    """
    from ..ops import bfs_levels_local, collect_bounded, local_frame

    labels = _cc_label_table(spark, sf_dir)
    pairs = neardup_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
    )
    seeds = labels.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    visited = seeds.withColumn("level", F.lit(0))
    local = collect_bounded(pairs, "doc_a", "doc_b")
    roots = collect_bounded(seeds, "doc_id") if local is not None else None
    if roots is not None:
        doc_id, level = bfs_levels_local(
            roots.column(0).to_numpy(),
            local.column(0).to_numpy(),
            local.column(1).to_numpy(),
            _CHAIN_MAX_HOPS,
        )
        # the loop's visited schema: seeds at level 0 ∪ edge ends reached
        reach = edges.select(
            F.col("dst").alias("doc_id"), F.lit(1).alias("level")
        )
        visited = local_frame(
            spark,
            {"doc_id": doc_id, "level": level},
            visited.unionByName(reach).schema,
        )
    else:
        edges = edges.localCheckpoint(eager=False)
        frontier = seeds
        for k in range(1, _CHAIN_MAX_HOPS + 1):
            nxt = (
                frontier.join(edges, frontier["doc_id"] == edges["src"])
                .select(F.col("dst").alias("doc_id"))
                .distinct()
                .join(visited.select("doc_id"), "doc_id", "left_anti")
                .withColumn("level", F.lit(k))
                .localCheckpoint(eager=False)
            )
            visited = visited.unionByName(nxt).localCheckpoint(eager=False)
            frontier = nxt.select("doc_id")
    d = load_table(spark, sf_dir, "documents")
    reached = visited.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
    unreached = (
        d.select("doc_id")
        .join(visited.select("doc_id"), "doc_id", "left_anti")
        .groupBy(F.lit(-1).alias("level"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    return reached.unionByName(unreached)


@DEDUP.register(
    "neardup_cluster_purity",
    # the _CC_ORACLE closure chain extended by per-cluster composition
    oracle="""
WITH RECURSIVE tok AS (
  SELECT doc_id, lang,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
  FROM documents
), pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
), edges AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), labels AS (
  SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
), pc AS (
  SELECT l.cluster_id, COUNT(*) AS n_members,
         COUNT(DISTINCT d.lang) AS n_langs,
         COUNT(DISTINCT d.source) AS n_sources
  FROM labels l JOIN documents d USING (doc_id) GROUP BY 1
)
SELECT CAST(LEAST(n_members, 4) AS BIGINT) AS size_bucket,
       CAST(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END AS INT) AS cross_source,
       CAST(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END AS INT) AS cross_lang,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n_members) AS BIGINT) AS n_docs,
       CAST(MAX(n_members) AS BIGINT) AS max_cluster_size
FROM pc GROUP BY 1, 2, 3
""",
)
def neardup_cluster_purity(spark, sf_dir):
    """Cluster-composition audit over the near-dup clusters: for each
    (size bucket, cross-source?, cross-lang?) cell, how many clusters and
    documents it holds — the diagnostic that tells a curator WHAT KIND of
    duplication dominates before choosing a policy. Within-source
    same-lang clusters are reposts (drop-all-but-one is safe);
    cross-source clusters are mirrors (drop, but fix the crawl overlap
    upstream — see `cross_source_overlap` for which pairs); cross-LANG
    clusters are usually tokenizer artifacts worth review before any doc
    is dropped (here structurally rare: the pair graph blocks on lang, so
    a cluster can only cross languages if... it cannot — the column is
    the audit's proof, pinned always-0 on lang-blocked pairs). Size
    buckets cap at 4+ (`LEAST(n, 4)`).

    Scale: rides the memoized pair + CC label tables (zero marginal cost
    after any dedup query); one groupBy on cluster_id whose per-cluster
    distinct lang/source sets are collect_set-combined map-side (bounded
    by the tiny lang/source domains, never by cluster size), then a
    <=16-cell report aggregate. Every output is an integer. Oracle: the
    _CC_ORACLE recursive-closure chain plus the same two aggregates —
    quadratic in DuckDB, so sf0.1 parity rides the 1500-doc slice like
    the other pair-join oracles.
    """
    labels = _cc_label_table(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    pc = (
        labels.join(d, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.size(F.collect_set("lang")).alias("n_langs"),
            F.size(F.collect_set("source")).alias("n_sources"),
        )
    )
    return pc.groupBy(
        F.least(F.col("n_members"), F.lit(4)).cast("long").alias(
            "size_bucket"
        ),
        (F.col("n_sources") > 1).cast("int").alias("cross_source"),
        (F.col("n_langs") > 1).cast("int").alias("cross_lang"),
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_members").alias("n_docs"),
        F.max("n_members").alias("max_cluster_size"),
    )
