"""Training-data curation operators beyond per-doc stats: quality-gate
decisions, repetition signals, benchmark-contamination checks, sequence
packing, and source-mix rebalancing — the pipeline steps between "raw
documents" and "training mixture" at 100 TB.

The reference (KonghaYao/data-to-parquet) has no analytical operators at all
(SURVEY.md §2.2); this module is north-star extension surface
(BASELINE.json), sibling to ``operators/text.py`` (per-doc stats) and
``operators/dedup.py`` (duplicate removal). Every op here is a declarative
DataFrame pipeline with a DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.exprs import (
    exploded_rows,
    md5_bucket,
    md5_bucket_sql,
    tokens,
)
from .base import Registry, load_table, session_memo

PIPE = Registry()

_D = "double"

# The Gopher-style thresholds used by the keep/drop gate; listed verbatim in
# the oracle so both engines make the identical decision.
_MIN_WORDS, _MAX_WORDS = 30, 10_000
_MIN_AVG_LEN, _MAX_AVG_LEN = 2.0, 12.0
_MIN_STOPWORDS = 2
_STOP = ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]


@PIPE.register(
    "gopher_quality_gate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, lang, source,
             len(toks) AS n_words,
             CAST(len(array_to_string(toks, '')) AS DOUBLE)
               / len(toks) AS avg_word_len,
             len(list_filter(toks, t -> list_contains(
               ['the','a','and','of','to','in','is','that','it','for'], t)))
               AS n_stopwords
      FROM tok WHERE len(toks) > 0
    )
    SELECT doc_id, lang, source, n_words, avg_word_len, n_stopwords,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}) AS pass_length,
           (avg_word_len BETWEEN {_MIN_AVG_LEN} AND {_MAX_AVG_LEN})
             AS pass_word_len,
           (n_stopwords >= {_MIN_STOPWORDS}) AS pass_stopwords,
           ((n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
            AND (avg_word_len BETWEEN {_MIN_AVG_LEN} AND {_MAX_AVG_LEN})
            AND n_stopwords >= {_MIN_STOPWORDS}) AS keep
    FROM m
    """,
)
def gopher_quality_gate(spark, sf_dir):
    """Gopher-style quality gate: per-rule booleans + the keep/drop decision
    (word count band, average word length band, minimum stopword hits).

    Unlike ``text_quality_stats`` (signals only), this op emits the gate
    DECISION per rule, which is what a curation pipeline filters on.
    Scale: narrow map, no shuffle; the booleans stay in codegen.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", "source", tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    avg_len = (
        F.length(F.array_join("toks", "")).cast(_D) / n
    )
    n_stop = F.size(
        F.filter("toks", lambda x: F.array_contains(F.array(*[F.lit(s) for s in _STOP]), x))
    )
    m = t.filter(n > 0).select(
        "doc_id",
        "lang",
        "source",
        n.alias("n_words"),
        avg_len.alias("avg_word_len"),
        n_stop.alias("n_stopwords"),
    )
    pass_length = F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
    pass_word_len = F.col("avg_word_len").between(_MIN_AVG_LEN, _MAX_AVG_LEN)
    pass_stop = F.col("n_stopwords") >= _MIN_STOPWORDS
    return m.select(
        "*",
        pass_length.alias("pass_length"),
        pass_word_len.alias("pass_word_len"),
        pass_stop.alias("pass_stopwords"),
        (pass_length & pass_word_len & pass_stop).alias("keep"),
    )


@PIPE.register(
    "doc_repetition_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(toks) AS tk FROM tok WHERE len(toks) > 0
    ), cnt AS (
      SELECT doc_id, tk, COUNT(*) AS c FROM ex GROUP BY doc_id, tk
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_token_frac,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
    FROM cnt GROUP BY doc_id
    """,
)
def doc_repetition_stats(spark, sf_dir):
    """Within-document repetition signals (the Gopher repetition rules):
    duplicate-token fraction and most-common-token mass fraction.

    Scale: explode + two-level aggregation; the (doc_id, token) key is
    high-cardinality so the shuffle is skew-free, and partial aggregation
    collapses each doc's repeats map-side.
    """
    d = load_table(spark, sf_dir, "documents")
    ex = exploded_rows(d, ["doc_id"], tokens(F.col("text")), "tk")
    cnt = ex.groupBy("doc_id", "tk").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (1.0 - F.count(F.lit(1)).cast(_D) / F.sum("c")).alias("dup_token_frac"),
        (F.max("c").cast(_D) / F.sum("c")).alias("top_token_frac"),
    )


_SHINGLE_N = 5  # word n-gram width for contamination checks
_BENCH_MOD = 97  # doc_id % _BENCH_MOD == 0 → doc belongs to the benchmark set


#: The (doc_id, s) corpus shingle frame is session-memoized.
#: THREE benched decontamination queries consume it
#: (contamination_ngram_overlap, contamination_bloom_flags,
#: contamination_bloom_audit — plus the streaming probe's corpus side),
#: and each consumer's plan additionally computes it 2-3x internally
#: (the benchmark slice is collected across a broadcast/driver boundary,
#: so Spark cannot reuse the scan between it and the probe side).
#: Measured r16 (noop sink, guide §1.4): the build alone is ~1.1 s at
#: sf0.1 vs 1.9-2.6 s whole queries — the dominant shared stage. The
#: frame is a lazily-materialized localCheckpoint: the first consumer pays
#: the build.
@session_memo("documents")
def _shingle_frame(spark, sf_dir):
    """(doc_id, s) with s = the doc's DISTINCT word 5-gram shingles
    (n = _SHINGLE_N) — shared by the three contamination queries via a
    session memo."""
    return _shingles_of(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)


def _shingles_of(d):
    """Shingle an arbitrary documents frame (needs doc_id, text) —
    factored from `_shingle_frame` (r14) so the streaming
    decontamination probe can shingle each ARRIVING batch with the
    byte-identical expression the batch queries use on the corpus.

    The index list is slice(sequence(1, max(n-4, 1)), 1, max(n-4, 0)):
    Spark's sequence(1, 0) is the DESCENDING [1, 0] — not empty like
    DuckDB's generate_series — so a <5-token doc would
    otherwise produce garbage shingles; slicing the (always-ascending)
    sequence to length max(n-4, 0) yields exactly zero of them. The guard
    is expressed this way (not if()/concat_ws per element) deliberately:
    both alternatives fall out of whole-stage codegen here and measured
    1.4× and 7× slower respectively on the full query.
    """
    t = tokens(F.col("text"))
    shingles = F.expr(
        f"array_distinct(transform("
        f" slice(sequence(1, greatest(size(t) - {_SHINGLE_N - 1}, 1)),"
        f"       1, greatest(size(t) - {_SHINGLE_N - 1}, 0)),"
        f" i -> array_join(slice(t, i, {_SHINGLE_N}), ' ')))"
    )
    return d.select("doc_id", t.alias("t")).select(
        "doc_id", shingles.alias("s")
    )


@PIPE.register(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - {_SHINGLE_N - 1}, 0)),
               i -> array_to_string(t[i:i+{_SHINGLE_N - 1}], ' '))) AS s
      FROM tok
    ), bench AS (
      SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
      WHERE doc_id % {_BENCH_MOD} <> 0 AND len(s) > 0
    )
    SELECT ex.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(bench.g) AS n_contaminated,
           CAST(COUNT(bench.g) AS DOUBLE) / COUNT(*) AS overlap_frac
    FROM ex LEFT JOIN bench ON ex.g = bench.g
    GROUP BY ex.doc_id
    """,
)
def contamination_ngram_overlap(spark, sf_dir):
    """Benchmark-contamination check: fraction of each document's word
    {5}-gram shingles that also occur in a held-out "benchmark" set (here
    the doc_id % 97 == 0 slice stands in for an eval suite).

    Scale: the benchmark shingle dictionary is DISTINCT'd then broadcast —
    eval suites are tiny next to a training corpus — so the overlap count is
    a map-side hash-join + partial aggregate over the exploded corpus; no
    corpus-sized shuffle. This is the standard decontamination shape
    (e.g. n-gram overlap against test sets) at pretraining scale.
    """
    sh = _shingle_frame(spark, sf_dir)
    bench = exploded_rows(
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0), [], F.col("s"), "g"
    ).distinct()
    ex = exploded_rows(
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0),
        ["doc_id"],
        F.col("s"),
        "g",
    )
    hit = ex.join(
        F.broadcast(bench.withColumnRenamed("g", "bg")),
        F.col("g") == F.col("bg"),
        "left_outer",
    )
    return hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("bg").alias("n_contaminated"),
        (F.count("bg").cast(_D) / F.count(F.lit(1))).alias("overlap_frac"),
    )


_BLOOM_BITS = 1 << 17  # bloom filter width (16 KiB bitmap)
_BLOOM_K = 4  # hash functions


def _bloom_probe_frame(sh, bench=None):
    """Exploded non-benchmark probes (doc_id, g) with the bloom bitmap
    bound as the ``__w`` literal column — shared by the flags query and
    the round-10 audit. ``bench`` is an optional pre-built DISTINCT
    benchmark-shingle frame (column ``g``); the audit passes the one it
    already built for its exact join so the filter+explode+distinct over
    the benchmark slice runs once, not twice (r10 second-pass review).
    Bitmap build: see `_bloom_words_literal`.
    """
    if bench is None:
        bench = exploded_rows(
            sh.filter(F.col("doc_id") % _BENCH_MOD == 0),
            [],
            F.col("s"),
            "g",
        ).distinct()
    wlits = _bloom_words_literal(bench)
    return exploded_rows(
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0),
        ["doc_id"],
        F.col("s"),
        "g",
    ).withColumn("__w", wlits)


def _bloom_words_literal(bench):
    """Fold the DISTINCT benchmark-shingle frame into the 2^17-bit bloom
    bitmap and return it as ONE signed-long-array literal column —
    factored from `_bloom_probe_frame` (r14) so the streaming probe can
    build the deny-set bitmap once, up front, and bind the same literal
    into every arriving batch's plan.

    Build: k bit positions per benchmark shingle, OR'd into m bits. The
    position set is collected driver-side — it is bounded by k·|benchmark
    shingles| (and at true scale this is a one-time fold into 16 KiB,
    exactly what e.g. spark.util.sketch.BloomFilter materializes).
    Signed-long array because Spark longs are signed (bit 63 wraps); ONE
    Literal node (F.lit on the whole list) — a CreateArray of 2048
    elements is not constant-folded and measured 6× slower end to end.
    """
    bench_pos = (
        bench
        .select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("g"), F.lit(i)),
                            F.lit(_BLOOM_BITS),
                        )
                        for i in range(_BLOOM_K)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )
    words = [0] * (_BLOOM_BITS // 64)
    for (pos,) in bench_pos.collect():
        words[pos // 64] |= 1 << (pos % 64)
    return F.lit(
        [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    )


def _bloom_hit_expr():
    """All-k-bits-set probe over ``__w``/``g`` as PLAIN column
    expressions. Higher-order-function lambdas evaluate outside
    whole-stage codegen (a filter/forall formulation measured 6× slower
    than the exact broadcast join it was meant to beat); flat bit
    arithmetic stays in codegen."""
    hit = None
    for i in range(_BLOOM_K):
        # codegen'd subexpression elimination dedupes the repeated hash
        bit = F.expr(
            f"(shiftright(element_at(__w,"
            f" CAST(pmod(xxhash64(g, {i}), {_BLOOM_BITS}) div 64 AS INT)"
            f" + 1),"
            f" CAST(pmod(xxhash64(g, {i}), {_BLOOM_BITS}) % 64 AS INT))"
            f" & 1) = 1"
        )
        hit = bit if hit is None else (hit & bit)
    return hit


@PIPE.register("contamination_bloom_flags", oracle=None)
def contamination_bloom_flags(spark, sf_dir):
    """Bloom-filter decontamination — the LARGE-dirty-set scale path. The
    exact variant above broadcasts the benchmark shingle dictionary, which
    works while eval suites are small; when the deny-set grows to billions
    of n-grams (every test set + every known benchmark + leaked docs), the
    broadcast becomes the bottleneck. The bloom posture fixes the shipped
    state at m bits REGARDLESS of set size: build a 2^17-bit / 4-hash
    filter from the benchmark shingles, ship the 16 KiB bitmap as a plan
    literal, and probe every doc's shingles with pure JVM bit arithmetic — a
    no-shuffle narrow map over the corpus, zero per-row joins.

    One-sided error by construction: a truly contaminated shingle ALWAYS
    hits (no false negatives — the property decontamination needs); false
    positives over-flag at rate ≈ (set_bits/m)^k, pinned under 0.1% of
    checked shingles by tests/test_bloom_contamination.py, which also
    verifies flagged ⊇ exact per doc. Rows-only: xxhash64 is not available
    to DuckDB; semantics are pinned against the exact query in the test.

    Crossover note: at THIS corpus scale the exact broadcast join is
    faster (the benchmark dictionary is tiny); the bloom path wins when
    the deny-set no longer broadcasts. Both are kept registered because
    they are different points on the same scale curve.
    """
    sh = _shingle_frame(spark, sf_dir)
    ex = _bloom_probe_frame(sh)
    hit = _bloom_hit_expr()
    return (
        ex.select("doc_id", hit.cast("int").alias("__hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("__hit").alias("n_flagged"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_flagged",
            (F.col("n_flagged").cast(_D) / F.col("n_shingles")).alias(
                "flagged_frac"
            ),
        )
    )


#: The bloom-audit ground truth — exact probe/contamination counts plus
#: the two pre-verified one-sided-error buckets. Shared VERBATIM with
#: `streaming_contamination_probe` (streaming/windows.py, r14): the
#: availableNow stream drains the whole corpus, so the per-epoch fold
#: must reproduce exactly this batch answer (the
#: `streaming_shard_manifest_growth` shared-oracle precedent).
_BLOOM_AUDIT_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - {_SHINGLE_N - 1}, 0)),
               i -> array_to_string(t[i:i+{_SHINGLE_N - 1}], ' '))) AS s
      FROM tok
    ), bench AS (
      SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
      WHERE doc_id % {_BENCH_MOD} <> 0 AND len(s) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(COUNT(bench.g) AS BIGINT) AS n_contaminated_probes,
           TRUE AS no_false_negatives,
           TRUE AS fp_rate_lt_1pct
    FROM ex LEFT JOIN bench ON ex.g = bench.g
    """


def _bloom_audit_counts(probes):
    """The audit's raw-count aggregate over an exploded probe frame that
    carries ``g``, ``__w`` (bitmap literal) and ``bg`` (the exact-join
    match column): probe count, exact contaminated count, false
    negatives, false positives. One map-side-combinable row — factored
    (r14) so the streaming probe folds per-batch rows that are
    DEFINITIONALLY the same expressions as the batch audit's."""
    exact = F.col("bg").isNotNull()
    bloom = _bloom_hit_expr()
    return probes.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.coalesce(F.sum(exact.cast("long")), F.lit(0)).alias("n_cont"),
        F.coalesce(
            F.sum((exact & ~bloom).cast("long")), F.lit(0)
        ).alias("n_fn"),
        F.coalesce(
            F.sum((~exact & bloom).cast("long")), F.lit(0)
        ).alias("n_fp"),
    )


def _bloom_audit_project(agg):
    """Final audit surface from the (n_probes, n_cont, n_fn, n_fp)
    counts: the exact facts plus the two one-sided-error buckets —
    shared by the batch audit and the streaming fold so the two ship
    byte-identical columns against the one oracle."""
    clean = F.col("n_probes") - F.col("n_cont")
    return agg.select(
        "n_probes",
        F.col("n_cont").alias("n_contaminated_probes"),
        (F.col("n_fn") == 0).alias("no_false_negatives"),
        F.when(
            clean > 0, F.col("n_fp").cast(_D) / clean < 0.01
        ).otherwise(F.lit(True)).alias("fp_rate_lt_1pct"),
    )


@PIPE.register("contamination_bloom_audit", oracle=_BLOOM_AUDIT_ORACLE)
def contamination_bloom_audit(spark, sf_dir):
    """Bloom decontamination AUDIT (round-10 oracle upgrade for the bloom
    family): probe every non-benchmark shingle through BOTH the exact
    broadcast set and the 2^17-bit bloom, and report corpus-wide — the
    exact probe/contamination counts next to the two buckets that state
    the bloom's one-sided-error contract on the real data:
    `no_false_negatives` (every exactly-contaminated probe is
    bloom-flagged — the property decontamination REQUIRES) and
    `fp_rate_lt_1pct` (false-positive rate over clean probes under 1%;
    the pytest pin holds it under 0.1%, so 1% is a comfortable
    envelope). The sketch-report envelope pattern: the oracle recomputes
    the exact columns and carries the buckets as pre-verified TRUE
    literals — a bloom regression (bad bit arithmetic, wrong hash seed,
    truncated bitmap) flips a bucket and the driver hash goes red, where
    previously `contamination_bloom_flags` got only a rows-only check
    (xxhash64 has no DuckDB twin; the flags themselves stay rows-only by
    construction, pinned per-doc by tests/test_bloom_contamination.py).

    Scale: the exact side is the broadcast dictionary join
    (`contamination_ngram_overlap`'s shape), the bloom side the same
    16 KiB plan-literal probe as the flags query, sharing one distinct
    benchmark-shingle frame between the bitmap build and the exact join;
    output is a single scalar row.
    """
    sh = _shingle_frame(spark, sf_dir)
    bench = exploded_rows(
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0), [], F.col("s"), "g"
    ).distinct()
    probes = _bloom_probe_frame(sh, bench=bench).join(
        F.broadcast(bench.withColumnRenamed("g", "bg")),
        F.col("g") == F.col("bg"),
        "left_outer",
    )
    return _bloom_audit_project(_bloom_audit_counts(probes))


_CTX = 512  # tokens per packed training sequence
_PACK_SHARDS = 8  # independent packing streams (parallelism unit)


@PIPE.register(
    "sequence_packing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tok
      FROM documents
    ), cum AS (
      SELECT doc_id, shard, n_tok,
             SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok
      FROM tok
    )
    SELECT doc_id, shard, n_tok,
           CAST(start_tok // {_CTX} AS BIGINT) AS pack_id,
           CAST(start_tok % {_CTX} AS BIGINT) AS pack_offset
    FROM cum
    """,
)
def sequence_packing(spark, sf_dir):
    """Concatenate-and-chunk sequence packing: documents are concatenated in
    doc_id order within a shard and cut into {512}-token training sequences;
    each doc learns its (pack_id, offset) — how pretraining batches are
    actually laid out.

    Scale: packing is inherently sequential, so the corpus is split into
    independent shard streams (here doc_id mod 8; in production, one shard
    per input file/partition) — each shard's running sum is a partitioned
    window, never a global single-partition sort.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    start = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_tok")
    cum = t.select("doc_id", "shard", "n_tok", start)
    return cum.select(
        "doc_id",
        "shard",
        "n_tok",
        (F.col("start_tok") / _CTX).cast("bigint").alias("pack_id"),
        (F.col("start_tok") % _CTX).alias("pack_offset"),
    )


@PIPE.register(
    "source_mix_weights",
    oracle="""
    WITH cnt AS (
      SELECT lang, source, COUNT(*) AS n_docs
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs,
           CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY lang) AS actual_share,
           (1.0 / COUNT(*) OVER (PARTITION BY lang))
             / (CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang))
             AS resample_weight
    FROM cnt
    """,
)
def source_mix_weights(spark, sf_dir):
    """Training-mixture rebalancing: per (lang, source) stratum, the actual
    share of its language and the resampling weight that would equalize
    sources within each language (weight = target_share / actual_share).

    Scale: one aggregation to stratum counts (tiny), then window math over
    the stratum table — the weights table is then broadcast-joined back to
    the corpus by any sampler (see ``stratified_sample_documents``).
    """
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    wl = W.partitionBy("lang")
    actual = F.col("n_docs").cast(_D) / F.sum("n_docs").over(wl)
    target = F.lit(1.0) / F.count(F.lit(1)).over(wl)
    return cnt.select(
        "lang",
        "source",
        "n_docs",
        actual.alias("actual_share"),
        (target / actual).alias("resample_weight"),
    )


_BIN_BUDGET = 512  # token budget per packed bin


@PIPE.register(
    "udtf_pack_bins",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT lang, doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tok
      FROM documents
    ), ordered AS (
      SELECT lang, doc_id, n_tok,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM tok
    ), packed AS (
      SELECT lang, doc_id, n_tok, rn, 0 AS bin_id, n_tok AS fill
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.lang, o.doc_id, o.n_tok, o.rn,
             CASE WHEN p.fill + o.n_tok <= {_BIN_BUDGET}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + o.n_tok <= {_BIN_BUDGET}
                  THEN p.fill + o.n_tok ELSE o.n_tok END
      FROM packed p JOIN ordered o ON o.lang = p.lang AND o.rn = p.rn + 1
    )
    SELECT lang, doc_id, n_tok, bin_id FROM packed
    """,
)
def udtf_pack_bins(spark, sf_dir):
    """Greedy next-fit bin packing of documents into {512}-token bins per
    language, implemented as a Python UDTF over a partitioned TABLE argument
    — the UDTF leg of the engine's user-extension surface (UDF: 
    `grouped_map_percent_rank`; UDAF: `udaf_geometric_mean`; UDTF: here).

    Next-fit packing carries running state across rows (bin fill resets when
    the budget would overflow), which no window frame can express — exactly
    the case for a UDTF with `TABLE(...) PARTITION BY ... ORDER BY ...`:
    Spark feeds each language's rows in doc_id order through one UDTF
    instance, and the lazily-evaluated generator keeps the state machine in
    plain Python. The oracle replays the identical recursion as a DuckDB
    recursive CTE, so this "non-SQL-expressible" operator still gets a full
    value-hash check.

    Scale: one UDTF instance per language partition; state is O(1); rows
    stream through Arrow batches. Skewed partition sizes are the same
    concern as any PARTITION BY — pre-split with a composite key (as
    `sequence_packing` does with shards) when one group dominates.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, doc_id long, n_tok int, bin_id int")
    class PackBins:
        def __init__(self):
            self._fill = None  # None → no row seen yet in this partition
            self._bin = 0

        def eval(self, row):
            n = row["n_tok"]
            if self._fill is None:
                self._bin, self._fill = 0, n
            elif self._fill + n <= _BIN_BUDGET:
                self._fill += n
            else:
                self._bin += 1
                self._fill = n
            yield row["lang"], row["doc_id"], n, self._bin

    spark.udtf.register("pack_bins", PackBins)
    d = load_table(spark, sf_dir, "documents")
    view = "docs_for_packing"
    d.select(
        "lang", "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    ).createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT * FROM pack_bins(
          TABLE(SELECT lang, doc_id, n_tok FROM {view})
          PARTITION BY lang ORDER BY doc_id
        )
        """
    )


_TOPNG_N = 3  # word n-gram width for the heavy-hitter report
_TOPNG_K = 20  # report size


@PIPE.register(
    "corpus_top_ngrams",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), ex AS (
      SELECT doc_id,
             array_to_string(t[i:i+{_TOPNG_N - 1}], ' ') AS gram
      FROM tok, unnest(generate_series(1, greatest(len(t) - {_TOPNG_N - 1}, 0)))
             AS g(i)
    )
    SELECT gram,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM ex GROUP BY gram
    ORDER BY n_occurrences DESC, gram ASC
    LIMIT {_TOPNG_K}
    """,
)
def corpus_top_ngrams(spark, sf_dir):
    """Corpus-wide heavy hitters: the {20} most frequent word {3}-grams with
    occurrence and document counts — the boilerplate/template detector that
    feeds block-list curation (a phrase appearing in thousands of documents
    is navigation chrome, not prose).

    Scale: explode → groupBy(gram) with map-side partial aggregation (the
    count collapses per task before the shuffle), then a global top-k which
    Spark executes as TakeOrderedAndProject — per-partition top-k on the
    aggregated gram table, never a full sort. Ties broken by gram text so
    the report is deterministic. At 100 TB the exact count of the top
    handful of grams is still cheap because partial aggregation bounds the
    shuffle at |distinct grams per partition|; a count-min sketch variant
    only becomes necessary when the distinct-gram table itself stops
    fitting, and the report head (what this query emits) stays identical.
    """
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    grams = F.expr(
        f"transform("
        f" slice(sequence(1, greatest(size(t) - {_TOPNG_N - 1}, 1)),"
        f"       1, greatest(size(t) - {_TOPNG_N - 1}, 0)),"
        f" i -> array_join(slice(t, i, {_TOPNG_N}), ' '))"
    )
    ex = exploded_rows(
        d.select("doc_id", t.alias("t")), ["doc_id"], grams, "gram"
    )
    return (
        ex.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(_TOPNG_K)
    )


_CAP_PER_SOURCE = 10  # deterministic per-source document cap


@PIPE.register(
    "source_cap_docs",
    oracle=f"""
    SELECT doc_id, source, rk
    FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY md5(text), doc_id) AS INT) AS rk
      FROM documents
    )
    WHERE rk <= {_CAP_PER_SOURCE}
    """,
)
def source_cap_docs(spark, sf_dir):
    """Per-source document cap: keep at most N docs per source, chosen by
    a deterministic content-hash order (md5) so reruns and engines agree —
    the "no single crawl may dominate the mixture" curation rule.

    Scale: one shuffle on source + a per-group top-N. Ranking by a hash
    rather than doc_id avoids biasing the kept set toward early-crawled
    documents. The rk <= N filter is pushed into the window as a TWO-LEVEL
    WindowGroupLimit (verified in the physical plan): each input partition
    keeps only its N smallest hashes per source before the shuffle, then
    the post-shuffle pass finalizes — so a source holding most of the
    corpus ships N rows per upstream partition, never its full slice.
    """
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("text")), "doc_id")
    return (
        d.select(
            "doc_id", "source", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= _CAP_PER_SOURCE)
    )


@PIPE.register(
    "length_gate_per_lang",
    oracle="""
    WITH cut AS (
      SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.3) AS q30
      FROM documents GROUP BY lang
    )
    SELECT doc_id, d.lang, n_chars,
           n_chars >= q30 AS keep
    FROM documents d JOIN cut c ON d.lang = c.lang
    """,
)
def length_gate_per_lang(spark, sf_dir):
    """Per-language adaptive length gate: drop each language's shortest
    30% of documents — thresholds derived from the corpus itself rather
    than one global constant, so low-resource languages aren't wiped out
    by a threshold tuned on the dominant one.

    Scale: same two-step shape as winsorization — a tiny per-lang exact
    quantile table broadcast back over the corpus; the documents scan
    shuffles only for the low-cardinality quantile agg.
    """
    d = load_table(spark, sf_dir, "documents")
    cut = d.groupBy(F.col("lang").alias("cl")).agg(
        F.percentile(F.col("n_chars").cast("double"), 0.3).alias("q30")
    )
    return d.join(cut, d.lang == cut.cl).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") >= F.col("q30")).alias("keep"),
    )


_TOKEN_BUDGET = 2000  # per-source token budget for the sampled mixture


@PIPE.register(
    "token_budget_sample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), run AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM tok
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM run WHERE cum_tokens <= {_TOKEN_BUDGET}
    """,
)
def token_budget_sample(spark, sf_dir):
    """Token-budget sampling: take documents per source, in deterministic
    content-hash order, until each source's cumulative token count reaches
    its budget — how a training mixture is actually assembled ("x tokens of
    source A, y of source B"), as opposed to per-document caps.

    Scale: one shuffle on source + a running-sum window; the hash order
    makes the drawn sample stable across runs and engines. The cumulative
    predicate keeps the first k docs whose running total fits — a doc
    larger than the remaining budget ends its source's intake (simple,
    deterministic; a bin-packing variant is `udtf_pack_bins`).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tok.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _TOKEN_BUDGET)
    )


_WS_K = 100  # weighted sample size


@PIPE.register(
    "weighted_sample_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                      AS BIGINT) + 1.0) / 4503599627370497.0)
               / n_chars AS k
      FROM documents
    )
    SELECT doc_id, source, n_chars, round(k, 9) AS sample_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {_WS_K}
    """,
)
def weighted_sample_topk(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each document draws a deterministic pseudo-uniform u from md5(doc_id)
    and competes with key ln(u)/weight (weight = n_chars, so longer
    documents are proportionally likelier); the global top-k IS a
    weight-proportional sample — the importance-sampling primitive for
    building training mixtures ("sample 10B tokens ∝ quality score")
    without a shuffle-the-world random sort.

    Determinism: u is md5-derived (both engines bit-identical), the key is
    one ln + one division on it, and the ordering carries a doc_id
    tiebreak; the emitted key is rounded to 9 for the value hash. Scale:
    no shuffle at all before the top-k — Spark executes the global ORDER
    BY + LIMIT as TakeOrderedAndProject (per-partition top-k, then a
    k-row merge on the driver side of the exchange), so a 100 TB corpus
    ships k rows per partition, never itself.
    """
    d = load_table(spark, sf_dir, "documents")
    # 13 hex chars = 52 bits: exact in a double, u ∈ (0, 1]
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(4503599627370497.0)
    k = F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            k.alias("__k"),
        )
        .orderBy(F.desc("__k"), "doc_id")
        .limit(_WS_K)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("__k", 9).alias("sample_key"),
        )
    )


_CURR_DECILES = 9  # threshold count -> 10 bins
_CURR_SHARDS = 16


@PIPE.register(
    "quality_decile_schedule",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), thresholds AS (
      SELECT quantile_cont(n_tokens,
               [x * 0.1 FOR x IN range(1, {_CURR_DECILES + 1})]) AS ts
      FROM scored
    ), binned AS (
      SELECT doc_id, n_tokens,
             (SELECT CAST(SUM(CAST(n_tokens > t AS INT)) AS BIGINT)
              FROM unnest(ts) AS u(t)) AS decile,
             {md5_bucket_sql('doc_id', _CURR_SHARDS)} AS shard
      FROM scored CROSS JOIN thresholds
    )
    SELECT decile, shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens
    FROM binned
    GROUP BY decile, shard
    """,
)
def quality_decile_schedule(spark, sf_dir):
    """Curriculum schedule materialization: bin every document into a
    token-count decile (the curriculum axis — train easy/short first or
    hard/long first) and a deterministic within-decile shard (the
    data-loader unit), reporting each (decile, shard) cell's size and
    token budget.

    The scale story is HOW the deciles are computed: NOT ``ntile(10)``,
    whose global-order window funnels the entire table through one
    partition, but exact interpolated quantile thresholds (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, bit-identical on doubles —
    the `percentile_prices_by_flag` precedent) broadcast back as ONE row;
    each row's decile is then ``sum(score > t_i)`` — an embarrassingly
    parallel projection. Shards are md5-derived from doc_id (stable across
    runs and engines), so a trainer can fetch cell (d, s) as a
    deterministic unit. Exact integers everywhere except the threshold
    comparison, which both engines compute on the same doubles.

    Scale: one scan to score, one exact-percentile aggregate (sort-based
    within the aggregate, distributed partials), one broadcast join, one
    map-side-combined group by (10 x {_CURR_SHARDS} cells).
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    qs = [i / 10.0 for i in range(1, _CURR_DECILES + 1)]
    thresholds = scored.agg(
        F.percentile("n_tokens", F.lit(qs)).alias("ts")
    )
    over = F.aggregate(
        F.transform(
            F.col("ts"),
            lambda t: (F.col("n_tokens") > t).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    shard = md5_bucket(F.col("doc_id"), _CURR_SHARDS)
    binned = scored.join(F.broadcast(thresholds)).select(
        "doc_id",
        "n_tokens",
        over.alias("decile"),
        shard.alias("shard"),
    )
    return binned.groupBy("decile", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


_DSIR_TARGET_LANG = "en"  # target-distribution slice
_DSIR_FRAC = 0.2  # fraction of the corpus selected


@PIPE.register(
    "dsir_importance_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), flat AS (
      SELECT doc_id, lang, unnest(toks) AS tk FROM tok
    ), raw AS (
      SELECT tk, COUNT(*) AS c_raw FROM flat GROUP BY tk
    ), tgt AS (
      SELECT tk, COUNT(*) AS c_tgt FROM flat
      WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY tk
    ), consts AS (
      SELECT (SELECT COUNT(*) FROM flat) AS total_raw,
             (SELECT COUNT(*) FROM flat
              WHERE lang = '{_DSIR_TARGET_LANG}') AS total_tgt,
             (SELECT COUNT(*) FROM raw) AS v,
             (SELECT COUNT(*) FROM tok WHERE len(toks) > 0) AS n_docs
    ), ratio AS (
      SELECT raw.tk,
             ln((CAST(COALESCE(tgt.c_tgt, 0) + 1 AS DOUBLE)
                 / (total_tgt + v))
                / (CAST(c_raw + 1 AS DOUBLE) / (total_raw + v))) AS lr
      FROM raw LEFT JOIN tgt ON raw.tk = tgt.tk, consts
    ), scored AS (
      SELECT f.doc_id,
             COUNT(*) AS n_tokens,
             round(SUM(r.lr) / COUNT(*), 9) AS dsir_score
      FROM flat f JOIN ratio r ON f.tk = r.tk
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens, dsir_score,
           CAST(rnk <= CAST(ceil({_DSIR_FRAC} * n_docs) AS BIGINT)
                AS BOOLEAN) AS selected
    FROM (
      SELECT scored.*, consts.n_docs,
             ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id) AS rnk
      FROM scored, consts
    ) t
    """,
)
def dsir_importance_select(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023) —
    the importance-weighted corpus selection step of modern pretraining
    pipelines: score every document by the average unigram
    log-likelihood-ratio between a TARGET distribution (here the
    '{en}'-language slice, standing in for "high-quality domain") and the
    raw corpus, then keep the top {20}% — documents that look most like
    the target get selected, spam-shaped mass drops out.

    Determinism: both LMs are add-1-smoothed integer count ratios; the
    per-token log-ratio is one ln() per DISTINCT token; per-doc scores
    divide once and round to 9 (the `unigram_lm_quality` precedent — the
    per-doc double sum is short enough that both engines agree at that
    precision); the selection rank orders by the ROUNDED score with
    doc_id tiebreak, so the cut line is cross-engine stable.

    Scale: two token-keyed aggregations (raw and target counts — the
    second over the target slice only), one token-keyed join of the
    exploded corpus against the ratio table (high-cardinality, skew-free,
    AQE-handled), one per-doc aggregation. The final global rank is a
    sort of |docs| score rows — at 100 TB you'd replace the exact
    row_number with a sampled score-threshold quantile (same selection up
    to boundary ties); everything upstream is unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    )
    flat = exploded_rows(tok, ["doc_id", "lang"], F.col("toks"), "tk")
    flat = flat.localCheckpoint(eager=False)  # three consumers
    raw = flat.groupBy("tk").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        flat.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    # all four LM/selection scalars in ONE aggregation job over flat (was
    # four separate count jobs = four passes over the exploded corpus):
    # distinct tokens == raw.count() and distinct doc_ids == docs with >=1
    # token, because exploded_rows drops empty arrays exactly like explode
    s = flat.agg(
        F.count(F.lit(1)).alias("total_raw"),
        F.coalesce(
            F.sum((F.col("lang") == _DSIR_TARGET_LANG).cast("long")),
            F.lit(0),
        ).alias("total_tgt"),
        F.countDistinct("tk").alias("v"),
        F.countDistinct("doc_id").alias("n_docs"),
    ).collect()[0]
    total_raw, total_tgt, v, n_docs = (
        s["total_raw"], s["total_tgt"], s["v"], s["n_docs"],
    )
    ratio = raw.join(tgt, "tk", "left").select(
        "tk",
        F.log(
            ((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast(_D) / (total_tgt + v))
            / ((F.col("c_raw") + 1).cast(_D) / (total_raw + v))
        ).alias("lr"),
    )
    scored = (
        flat.join(ratio, "tk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr") / F.count(F.lit(1)), 9).alias("dsir_score"),
        )
    )
    k = math.ceil(_DSIR_FRAC * n_docs)
    w = W.orderBy(F.desc("dsir_score"), "doc_id")
    return scored.select(
        "doc_id",
        "n_tokens",
        "dsir_score",
        (F.row_number().over(w) <= k).alias("selected"),
    )


@PIPE.register(
    "quantile_normalize_lengths",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars FROM documents
    ), pr AS (
      SELECT doc_id, source, n_chars,
             PERCENT_RANK() OVER (
               PARTITION BY source ORDER BY n_chars
             ) AS pr
      FROM d
    ), g AS (
      SELECT n_chars AS v,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS idx
      FROM d
    ), n AS (SELECT COUNT(*) AS n FROM d)
    SELECT pr.doc_id, pr.source, pr.n_chars,
           round(pr.pr, 9) AS src_pctile,
           round(glo.v + (pr.pr * (n.n - 1) - floor(pr.pr * (n.n - 1)))
                         * (ghi.v - glo.v), 6) AS normalized
    FROM pr
    CROSS JOIN n
    JOIN g glo ON glo.idx = CAST(floor(pr.pr * (n.n - 1)) AS BIGINT) + 1
    JOIN g ghi ON ghi.idx = least(
        CAST(floor(pr.pr * (n.n - 1)) AS BIGINT) + 2, n.n)
    """,
)
def quantile_normalize_lengths(spark, sf_dir):
    """Quantile normalization of a per-document score across sources: map
    each doc's within-SOURCE percentile of ``n_chars`` onto the GLOBAL
    length distribution (linear interpolation between adjacent global
    order statistics). This is how mixed-corpus pipelines calibrate
    per-source quality/length scores before a single global threshold is
    applied — a crawl source whose lengths run long no longer dominates a
    books source purely by scale shift.

    Determinism: percent_rank is the identical rational ((rank-1)/(n-1))
    in both engines; the interpolation index and fraction are the same
    IEEE double expression over it, so floor() agrees; values are
    integers; one final round(6). Ties in the global order carry equal
    values, so tie order cannot change the mapping.

    Scale: one window per source partition, one global order statistic
    table (a full sort of scores — at 100 TB you'd swap in a sampled
    quantile-sketch lookup table, leaving everything else unchanged), and
    two integer-keyed joins Spark resolves as shuffle joins on the
    bounded index key. Output is one row per document.
    """
    # three narrow columns, checkpointed: the per-source window, the global
    # order-statistic table, and the count otherwise each scan the parquet
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .localCheckpoint(eager=False)
    )
    pr = d.withColumn(
        "pr",
        F.percent_rank().over(
            W.partitionBy("source").orderBy("n_chars")
        ),
    )
    g = d.select(
        F.col("n_chars").alias("v"),
        F.row_number()
        .over(W.orderBy("n_chars", "doc_id"))
        .alias("idx"),
    )
    n = d.count()
    p = F.col("pr") * (n - 1)
    lo = F.floor(p).cast("long") + 1
    hi = F.least(lo + 1, F.lit(n))
    frac = p - F.floor(p)
    glo = g.select(F.col("idx").alias("__lo_idx"), F.col("v").alias("__lo_v"))
    ghi = g.select(F.col("idx").alias("__hi_idx"), F.col("v").alias("__hi_v"))
    return (
        pr.withColumn("__lo_idx", lo)
        .withColumn("__hi_idx", hi)
        .join(glo, "__lo_idx")
        .join(ghi, "__hi_idx")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("pr", 9).alias("src_pctile"),
            F.round(
                F.col("__lo_v") + frac * (F.col("__hi_v") - F.col("__lo_v")),
                6,
            ).alias("normalized"),
        )
    )


# -- model-scored quality gate (round 10) ----------------------------------

#: hashed-feature dimensionality of the quality model (fastText default
#: `bucket` is 2M; 4096 keeps the DuckDB replay and the plan literal small
#: while still demonstrating collision handling — several features share a
#: bucket at this corpus size, exactly like production hashing)
_QMS_BUCKETS = 4096


def _qms_weight_table():
    """The model: one deterministic md5-derived weight per hash bucket, in
    integer millis so feature sums are exact int64 arithmetic (the float
    link function is applied ONCE per doc, after the sum). Derivation
    matches `md5_bucket`'s repo convention (first 8 md5 hex chars):
    w_milli[b] = md5('w:<b>')[:8] % 2001 - 1000, uniform on [-1000, 1000].
    """
    import hashlib

    import numpy as np

    return np.array(
        [
            int(
                hashlib.md5(f"w:{b}".encode()).hexdigest()[:8], 16
            ) % 2001 - 1000
            for b in range(_QMS_BUCKETS)
        ],
        dtype=np.int64,
    )


@PIPE.register(
    "quality_model_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id, t[i] AS f
      FROM tok, unnest(generate_series(1, len(t))) AS g(i)
      UNION ALL
      SELECT doc_id, t[i] || ' ' || t[i + 1]
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i)
    ), fw AS (
      SELECT doc_id,
             ({md5_bucket_sql("'f:' || f", _QMS_BUCKETS)}) AS b
      FROM feats
    ), scored AS (
      SELECT doc_id,
             COUNT(*) AS n_features,
             CAST(SUM(CAST('0x' || substring(md5('w:' || CAST(b AS VARCHAR)),
                                             1, 8) AS BIGINT)
                      % 2001 - 1000) AS BIGINT) AS w_milli_sum
      FROM fw GROUP BY doc_id
    )
    SELECT doc_id, n_features, w_milli_sum,
           round(1.0 / (1.0 + exp(-(CAST(w_milli_sum AS DOUBLE)
                                    / (1000.0 * n_features)))), 9)
             AS quality_score,
           (w_milli_sum > 0) AS keep
    FROM scored
    """,
)
def quality_model_score(spark, sf_dir):
    """Model-scored quality gate (round-10 unfreeze): batch inference of a
    fastText-style linear text classifier — lowercase word unigrams +
    bigrams, feature-hashed into 4096 buckets (Weinberger et al. 2009's
    hashing trick, fastText's `bucket` scheme), mean-pooled against a
    fixed weight vector, squashed through a logistic link — executed
    corpus-wide as a VECTORIZED Arrow-batched Pandas kernel. This fills
    the one LLM-pipeline stage the registry previously showed only by
    proxy (`rerank_positional_ce`'s docstring promises the model-scorer
    slot for its top-k candidates; this is the corpus-wide
    batch-inference shape): swap `_qms_weight_table` + the bincount for
    a real ONNX/torch forward pass and nothing else changes — schema,
    batching, partitioning, and the JVM plan around it are identical.

    Determinism (the reason this is fully value-oracled where a real
    model would be rows-only): tokenization happens JVM-SIDE via the
    module-shared `tokens()` (F.lower + TOKEN_SPLIT_RE), the pair
    proven ≡ DuckDB's `lower`/`string_split_regex` by every token-based
    oracle — the Python kernel never touches case mapping or regex, so
    no third tokenizer whose Unicode tables could drift (r10
    self-review); weights are md5-derived integers in millis, so the
    per-doc feature sum is EXACT int64 arithmetic in both engines
    regardless of accumulation order; the only float ops are one
    division and one logistic per doc, rounded to 9 (the
    `unigram_lm_quality` libm precedent). Bucket derivation is the
    repo's `md5_bucket` convention; unigrams and bigrams cannot collide
    pre-hash (bigrams always contain a space).

    Scale: ONE narrow Arrow-batched map over (doc_id, tokens) — zero
    shuffles, zero joins; the model ships as a 4096-entry int64 closure
    literal (the bloom deny-set precedent), and per batch the kernel
    factorizes features so md5 runs once per DISTINCT feature, not per
    occurrence. The final link + gate are JVM-side codegen exprs. At
    100 TB this is embarrassingly parallel scan-side work — the gate
    writes survivors without any wide dependency.
    """
    import pandas as pd

    w_milli = _qms_weight_table()

    def score_batches(it):
        import hashlib

        import numpy as np

        for pdf in it:
            doc_ids, doc_idx, all_feats = [], [], []
            for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
                toks = list(toks) if toks is not None else []
                feats = toks + [
                    a + " " + b for a, b in zip(toks, toks[1:])
                ]
                if not feats:
                    continue
                doc_ids.append(doc_id)
                doc_idx.extend([len(doc_ids) - 1] * len(feats))
                all_feats.extend(feats)
            if not doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "n_features": pd.Series([], dtype="int64"),
                        "w_milli_sum": pd.Series([], dtype="int64"),
                    }
                )
                continue
            codes, uniques = pd.factorize(pd.Series(all_feats))
            buckets = np.array(
                [
                    int(
                        hashlib.md5(("f:" + u).encode()).hexdigest()[:8],
                        16,
                    )
                    % _QMS_BUCKETS
                    for u in uniques
                ],
                dtype=np.int64,
            )
            fw = w_milli[buckets[codes]]
            idx = np.asarray(doc_idx, dtype=np.int64)
            # bincount sums int64 exactly (|sum| <= 1000 * n_feats << 2^53)
            sums = np.bincount(idx, weights=fw).astype(np.int64)
            counts = np.bincount(idx).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(doc_ids, dtype=np.int64),
                    "n_features": counts,
                    "w_milli_sum": sums,
                }
            )

    d = load_table(spark, sf_dir, "documents")
    stats = d.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).mapInPandas(
        score_batches, "doc_id long, n_features long, w_milli_sum long"
    )
    logit = F.col("w_milli_sum").cast(_D) / (
        F.lit(1000.0) * F.col("n_features")
    )
    return stats.select(
        "doc_id",
        "n_features",
        "w_milli_sum",
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 9
        ).alias("quality_score"),
        (F.col("w_milli_sum") > 0).alias("keep"),
    )


# -- embedding generation (round 11) ----------------------------------------

#: dimensionality of the generated embeddings — matches the fixture
#: embeddings table's 64 dims so generated vectors drop into the same
#: ANN/k-means dataflows (dsub=8 PQ subspaces, IVF cells) unchanged
_EMB_DIM = 64


#: the DuckDB replay of `_hashed_embedding_sums` — shared by the
#: embedding_generate_hashed oracle and the end-to-end search oracle
#: (generated_embedding_topk); `normed` carries the exact int64 dim sums
#: plus the (exact-int-summed, double-cast) squared norm
_EMB_SQL_CTES = f"""
    tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id, t[i] AS f
      FROM tok, unnest(generate_series(1, len(t))) AS g(i)
    ), fb AS (
      SELECT doc_id,
             ({md5_bucket_sql("'e:' || f", _EMB_DIM)}) AS b,
             CASE WHEN CAST('0x' || substring(md5('s:' || f), 1, 8)
                        AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM feats
    ), sums AS (
      SELECT doc_id, b, CAST(SUM(s) AS BIGINT) AS v
      FROM fb GROUP BY doc_id, b
    ), dense AS (
      SELECT d.doc_id, g.i AS dim, COALESCE(sums.v, CAST(0 AS BIGINT)) AS v
      FROM (SELECT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest(generate_series(0, {_EMB_DIM - 1})) AS i) g
      LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.b = g.i
    ), vecs AS (
      SELECT doc_id, list(v ORDER BY dim) AS emb_sums
      FROM dense GROUP BY doc_id
    ), normed AS (
      SELECT doc_id, emb_sums,
             CAST(list_sum(list_transform(emb_sums, x -> x * x))
                  AS DOUBLE) AS norm2
      FROM vecs
    )
"""


@PIPE.register(
    "embedding_generate_hashed",
    oracle=f"""
    WITH {_EMB_SQL_CTES}
    SELECT n.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           array_to_string(n.emb_sums, ',') AS emb_sums_csv,
           sqrt(n.norm2) AS l2_norm
    FROM normed n JOIN tok t USING (doc_id)
    """,
)
def embedding_generate_hashed(spark, sf_dir):
    """Embedding GENERATION as corpus-wide batch inference (round-11
    unfreeze): the one LLM-pipeline stage previously shown only by its
    consumers — every ANN/k-means/SemDedup query reads fixture vectors;
    this is the embed step that would produce them. A deterministic
    hashed-projection text encoder (feature hashing with a sign hash —
    Weinberger et al. 2009's signed hashing trick, the classic
    random-projection sentence baseline): each token maps to one of
    _EMB_DIM=64 dims via the repo's md5-bucket convention and
    contributes ±1 via an independent sign hash; the per-doc dim sums
    are L2-normalized into a unit vector. 64 dims match the fixture
    embeddings table, so the output drops into the existing PQ (8×8
    subspaces) / IVF / k-means dataflows unchanged — swap the kernel
    body for a real transformer forward pass and the schema, batching,
    and plan are identical (the `quality_model_score` slot, one stage
    earlier in the pipeline).

    Determinism (fully value-oracled where a real encoder would be
    rows-only): tokenization is JVM-side via the module-shared
    `tokens()` (no third tokenizer); bucket and sign are md5-derived
    per DISTINCT token (factorized per batch, the quality-model
    precedent); the per-doc dim sums are EXACT int64 counts in both
    engines regardless of accumulation order; the only float ops are
    one sqrt and one division per element — IEEE-correctly-rounded on
    identical int64 inputs in both engines — so l2_norm ships UNROUNDED
    (a round-9 on top would re-open the digit-boundary flake channel
    fixed in round 11 s2).
    Zero-token docs yield the zero vector (norm 0) by the same CASE in
    both engines.

    The registered output is FLAT (the driver canonicalizer hashes
    scalar cells only): the exact int64 dim sums serialize as a CSV
    string (int-to-string is engine-identical) next to the unrounded L2
    norm — together they pin the generated vector exactly, since the
    unit vector is sums/norm by construction. Consumers get the actual
    array<double> vectors from `generated_embeddings()` below, the
    library form the ANN/k-means tests feed from.

    Scale: ONE narrow Arrow-batched map over (doc_id, tokens) — zero
    shuffles, zero joins, embarrassingly parallel scan-side work; the
    normalization is JVM-side codegen over the returned int64 array. At
    100 TB this is exactly the embed stage's shape: the kernel is the
    GPU-or-CPU-bound part you'd swap, the plan around it already
    streams.
    """
    stats = _hashed_embedding_sums(spark, sf_dir)
    norm2 = F.aggregate(
        "emb_sums", F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        F.array_join(
            F.transform("emb_sums", lambda x: x.cast("string")), ","
        ).alias("emb_sums_csv"),
        F.sqrt(norm2.cast(_D)).alias("l2_norm"),
    )


def _hashed_embedding_sums(spark, sf_dir, doc_filter=None):
    """(doc_id, n_tokens, emb_sums array<bigint>) — the exact integer
    core of `embedding_generate_hashed`, shared by the registered flat
    audit and the `generated_embeddings` library form. ``doc_filter``
    (a Column predicate on the documents table) encodes a SUBSET with a
    pushed-down scan filter — the encoder is per-doc deterministic and
    batch-independent, so subset vectors equal their full-corpus twins.

    The full-corpus (doc_filter=None) frame comes from the session memo
    `_corpus_embedding_sums`; filtered subsets (the query side's
    pushed-filter scan) stay un-memoized: they are a handful of rows and
    each filter is its own plan."""
    if doc_filter is None:
        return _corpus_embedding_sums(spark, sf_dir)
    return _embedding_sums_of(
        load_table(spark, sf_dir, "documents").filter(doc_filter)
    )


@session_memo("documents")
def _corpus_embedding_sums(spark, sf_dir):
    """The FULL-corpus `_hashed_embedding_sums` frame, session-memoized as
    a lazily-materialized localCheckpoint. Two benched operators run the
    identical full-corpus Arrow encode kernel — `embedding_generate_hashed`
    (the registered audit) and `generated_embedding_topk`'s corpus side —
    and a 100 TB pipeline materializes the embed stage exactly once (r15
    optimization round; the `neardup_jaccard_pairs` precedent)."""
    return _embedding_sums_of(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)


def _embedding_sums_of(d):
    """Encode a documents frame (needs doc_id, text) into (doc_id,
    n_tokens, emb_sums) — the per-doc hashed-embedding kernel."""
    import pandas as pd

    def embed(it):
        import hashlib

        import numpy as np

        for pdf in it:
            n = len(pdf)
            sums = np.zeros((n, _EMB_DIM), dtype=np.int64)
            ntoks = np.zeros(n, dtype=np.int64)
            all_toks, doc_idx = [], []
            for i, toks in enumerate(pdf["toks"]):
                toks = list(toks) if toks is not None else []
                ntoks[i] = len(toks)
                doc_idx.extend([i] * len(toks))
                all_toks.extend(toks)
            if all_toks:
                codes, uniques = pd.factorize(pd.Series(all_toks))
                b = np.array(
                    [
                        int(
                            hashlib.md5(("e:" + u).encode()).hexdigest()[:8],
                            16,
                        )
                        % _EMB_DIM
                        for u in uniques
                    ],
                    dtype=np.int64,
                )
                s = np.array(
                    [
                        1
                        if int(
                            hashlib.md5(("s:" + u).encode()).hexdigest()[:8],
                            16,
                        )
                        % 2
                        == 0
                        else -1
                        for u in uniques
                    ],
                    dtype=np.int64,
                )
                idx = np.asarray(doc_idx, dtype=np.int64)
                np.add.at(sums, (idx, b[codes]), s[codes])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": ntoks,
                    "emb_sums": list(sums),
                }
            )

    return d.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).mapInPandas(embed, "doc_id long, n_tokens long, emb_sums array<bigint>")


def generated_embeddings(spark, sf_dir):
    """(vec_id, embedding array<double>) — unit-normalized generated
    vectors in the fixture embeddings table's shape, so the existing
    ANN/k-means dataflows consume them unchanged (zero-token docs keep
    the zero vector; downstream cosine guards already NULL-handle it)."""
    stats = _hashed_embedding_sums(spark, sf_dir)
    norm2 = F.aggregate(
        "emb_sums", F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    l2 = F.sqrt(norm2.cast(_D))
    return stats.select(
        F.col("doc_id").alias("vec_id"),
        F.when(
            norm2 > 0,
            F.transform("emb_sums", lambda x: x.cast(_D) / l2),
        )
        .otherwise(F.transform("emb_sums", lambda x: F.lit(0.0)))
        .alias("embedding"),
    )


_GEN_TOPK_QUERIES = 5  # query set = doc_id < 5
_GEN_TOPK_K = 10


@PIPE.register(
    "generated_embedding_topk",
    oracle=None,  # assigned below — needs similarity's cosine fold SQL
)
def generated_embedding_topk(spark, sf_dir):
    """End-to-end embed -> search (round 11): exact cosine top-k over the
    GENERATED embeddings — the full pipeline a retrieval deployment runs
    (encode the corpus, search it), previously shown only as separate
    stages on fixture vectors. Unlike the fixture-PQ path this is FULLY
    value-oracled end to end: the hashed-projection vectors are exact
    int64 sums normalized by IEEE-identical sqrt/division in both
    engines, and the cosine is the module-shared sequential fold, so
    every reported score is bit-identical cross-engine with no rounding
    envelope at all — the strongest correctness class available for a
    similarity search.

    Zero-token docs (zero vectors) are excluded from both corpus and
    query sides in both engines (norm2 > 0): a degenerate vector has no
    direction to search by, and excluding it keeps the cosine total and
    the NULL-ordering semantics engine-independent.

    Scale: the corpus encodes in ONE narrow Arrow-batched map (the
    `embedding_generate_hashed` kernel); the query side encodes its own
    pushed-filter doc_id < N scan (a handful of rows — a filter cannot
    push below a Python map, so deriving queries from the corpus frame
    would re-run the full embed a second time); the search is
    `ops.cosine_topk` — query set broadcast (no corpus shuffle), salted
    two-stage top-k window (32x|queries| reduce keys, then the exact
    global top-k over the <= 32k survivors). Identical posture to
    `similarity_topk_bruteforce`; EXPLAIN.md pins the plan.
    """
    from ..ops import cosine_topk

    def unit_vectors(frame):
        norm2 = F.aggregate(
            "emb_sums", F.lit(0).cast("long"), lambda a, x: a + x * x
        )
        l2 = F.sqrt(norm2.cast(_D))
        return frame.filter(norm2 > 0).select(
            F.col("doc_id").alias("vec_id"),
            F.transform("emb_sums", lambda x: x.cast(_D) / l2).alias(
                "embedding"
            ),
        )

    unit = unit_vectors(_hashed_embedding_sums(spark, sf_dir))
    # the query side encodes its OWN doc_id < N scan (pushed-filter, a
    # handful of rows) rather than filtering `unit`: a filter cannot push
    # below the Python map, so filtering unit would re-run the full-corpus
    # embed kernel a second time just to keep 5 rows (r11 review). The
    # encoder is per-doc deterministic and batch-independent, so the
    # query vectors are identical either way.
    q = unit_vectors(
        _hashed_embedding_sums(
            spark, sf_dir, doc_filter=F.col("doc_id") < _GEN_TOPK_QUERIES
        )
    )
    return cosine_topk(unit, q, "vec_id", "embedding", k=_GEN_TOPK_K)


def _gen_topk_oracle() -> str:
    from .similarity import _dd_cosine

    return f"""
    WITH {_EMB_SQL_CTES},
    unit AS (
      SELECT doc_id AS vec_id,
             list_transform(emb_sums,
                            x -> CAST(x AS DOUBLE) / sqrt(norm2)) AS v
      FROM normed WHERE norm2 > 0
    ), q AS (
      SELECT vec_id AS query_id, v AS qv
      FROM unit WHERE vec_id < {_GEN_TOPK_QUERIES}
    ), scored AS (
      SELECT q.query_id, u.vec_id AS neighbor_id,
             {_dd_cosine('q.qv', 'u.v')} AS cos_sim
      FROM q JOIN unit u ON u.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id)
                AS rank
      FROM scored
    ) t WHERE rank <= {_GEN_TOPK_K}
    """


# Query instances are frozen; attach the oracle by replacement. Building
# the SQL imports operators.similarity (for its cosine-fold fragment) AT
# PIPELINE IMPORT TIME — safe today because similarity imports nothing
# from pipeline, but if similarity ever needs pipeline (e.g. to reuse
# generated_embeddings), move this import/attachment behind a lazy
# oracle_sql() hook first or the package import goes circular.
import dataclasses as _dc  # noqa: E402

PIPE._queries["generated_embedding_topk"] = _dc.replace(
    PIPE._queries["generated_embedding_topk"], oracle=_gen_topk_oracle()
)


_SHARD_N = 16  # training shards; a power of two like real shard fan-outs

#: shared by `training_shard_manifest` and its streaming twin
#: `streaming_shard_manifest_growth` (streaming/windows.py): the two are
#: REQUIRED to produce identical results (the checksum's associativity
#: claim), so they share one oracle verbatim.
_SHARD_MANIFEST_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             {md5_bucket_sql('doc_id', _SHARD_N)} AS shard_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tokens,
             n_chars,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS h
      FROM documents
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(h) AS BIGINT) AS checksum,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM t GROUP BY shard_id
    """


def _shard_manifest_frame(d):
    """The per-shard manifest aggregate over a documents DataFrame —
    factored out of `training_shard_manifest` (r12) so the streaming
    growth path (`streaming_shard_manifest_growth`) aggregates each
    arriving batch with the IDENTICAL expressions; because every output
    is a sum/min/max, per-batch partials fold into exactly the batch
    manifest (the associativity the checksum was designed for)."""
    t = d.select(
        "doc_id",
        md5_bucket(F.col("doc_id"), _SHARD_N).alias("shard_id"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        "n_chars",
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        )
        .cast("bigint")
        .alias("h"),
    )
    return t.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("h").alias("checksum"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@PIPE.register("training_shard_manifest", oracle=_SHARD_MANIFEST_ORACLE)
def training_shard_manifest(spark, sf_dir):
    """Dataset-publication manifest — the stage after curation: assign every
    document to one of 16 training shards by content-stable hash
    and emit the per-shard manifest a consumer validates against (doc
    count, token count, char count, an integrity checksum, and doc_id
    fences). The checksum is the SUM of each member's md5-derived int —
    order-INSENSITIVE and associative, so it map-side combines and never
    depends on row order, unlike a concat-then-hash digest which would
    need a per-shard global sort and a full collect_list (a scale hazard
    at 100 TB). A reader re-deriving any shard can recompute all five
    numbers and detect a missing/duplicated/foreign document.

    Determinism: the md5 bucket and per-doc hash are the repo's standard
    cross-engine pair (`md5_bucket` / `md5_bucket_sql`); every output is
    an integer. The 8-hex per-doc hash (< 2^32) keeps the int64 checksum
    exact up to ~2e9 docs per shard — past that, fold mod 2^61 in both
    engines. Scale: ONE map-side-combined groupBy on the shard id (16
    groups), reading only (doc_id, text, n_chars); tokenization is the
    shared JVM-side `tokens()` expression, no Python in the path.
    """
    return _shard_manifest_frame(load_table(spark, sf_dir, "documents"))


#: shard_sketch_rollup envelope — >=2x bounds around the r12 measurements
#: on the shipped corpora (per-shard rel error max 0.022 / mean 0.009 at
#: sf0.001-0.1; merged-union rel error max 0.014). The lg_k=12 DataSketches
#: HLL has rse ~1.6%, so 5% is ~3 sigma — the same practical envelope
#: cardinality_sketch_report uses for Spark's native rsd=0.02 HLL++.
_SKROLL_LGK = 12
_SKROLL_ERR = 0.05


def _skroll_est_ok(est, exact):
    """The est_within_5pct bucket: empty-input sketches (estimate 0) are
    correct iff the exact count is 0; otherwise the relative-error test."""
    est = F.coalesce(est, F.lit(0))
    return F.when(exact == 0, est == 0).otherwise(
        F.abs(est - exact).cast(_D) / exact <= F.lit(_SKROLL_ERR)
    )


def _shard_sketch_full(spark, sf_dir):
    """(shard_id, n_docs, exact_distinct_shingles, estimate) — the raw
    rollup frame with the real sketch estimates (per-shard rows plus the
    merged-union corpus row at shard_id = -1); the registered query
    buckets it, and the raw-estimate error bound is pinned on THIS frame
    in tests/test_sketch_rollup.py (the `_sketch_report_full` pattern)."""
    from .dedup import strict_shingles

    d = load_table(spark, sf_dir, "documents")
    pairs = exploded_rows(
        d.select(
            md5_bucket(F.col("doc_id"), _SHARD_N).alias("shard_id"),
            tokens(F.col("text")).alias("t"),
        ),
        ["shard_id"],
        strict_shingles("t"),
        "shingle",
    )
    # deduped (shard, shingle) vocabulary: feeds the per-shard exact count,
    # the per-shard sketch, and the corpus exact — checkpointed lazily so
    # the explode+distinct runs once for the three consumers
    dist = pairs.distinct().localCheckpoint(eager=False)
    per = dist.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("exact_distinct_shingles"),
        F.hll_sketch_agg("shingle", _SKROLL_LGK).alias("sk"),
    )
    ndocs = d.groupBy(
        md5_bucket(F.col("doc_id"), _SHARD_N).alias("shard_id")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    shard_rows = ndocs.join(F.broadcast(per), "shard_id", "left").select(
        F.col("shard_id").cast("long").alias("shard_id"),
        "n_docs",
        F.coalesce("exact_distinct_shingles", F.lit(0))
        .cast("long")
        .alias("exact_distinct_shingles"),
        F.coalesce(F.hll_sketch_estimate("sk"), F.lit(0))
        .cast("long")
        .alias("estimate"),
    )
    key = F.lit(-1).cast("long").alias("shard_id")
    merged = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        key,
        F.coalesce(F.hll_sketch_estimate("sk"), F.lit(0))
        .cast("long")
        .alias("estimate"),
    )
    corp_exact = (
        dist.select("shingle")
        .distinct()
        .agg(F.count(F.lit(1)).alias("exact_distinct_shingles"))
        .select(key, "exact_distinct_shingles")
    )
    total = d.agg(F.count(F.lit(1)).alias("n_docs")).select(key, "n_docs")
    corpus_row = total.join(corp_exact, "shard_id").join(
        merged, "shard_id"
    )
    return shard_rows.unionByName(
        corpus_row.select(
            "shard_id",
            "n_docs",
            F.col("exact_distinct_shingles").cast("long").alias(
                "exact_distinct_shingles"
            ),
            "estimate",
        )
    )


@PIPE.register(
    "shard_sketch_rollup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT {md5_bucket_sql('doc_id', _SHARD_N)} AS shard_id,
             array_to_string(t[i:i+2], ' ') AS shingle
      FROM tok, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ), per_shard AS (
      SELECT shard_id, COUNT(*) AS exact_distinct_shingles
      FROM sh GROUP BY shard_id
    ), docs AS (
      SELECT {md5_bucket_sql('doc_id', _SHARD_N)} AS shard_id,
             COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    )
    SELECT CAST(d.shard_id AS BIGINT) AS shard_id,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(p.exact_distinct_shingles, 0) AS BIGINT)
             AS exact_distinct_shingles,
           TRUE AS est_within_5pct
    FROM docs d LEFT JOIN per_shard p USING (shard_id)
    UNION ALL
    SELECT CAST(-1 AS BIGINT),
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT shingle) FROM sh) AS BIGINT),
           TRUE
    """,
)
def shard_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch shard rollup — the scale companion to
    `training_shard_manifest`: each of the 16 md5-bucketed training shards
    publishes, next to its exact distinct 3-shingle count, a DataSketches
    HLL sketch of its shingle vocabulary; the corpus-wide vocabulary
    estimate then comes from MERGING the 16 per-shard sketch states
    (`hll_union_agg`), never from re-scanning the corpus — the two-level
    aggregation every 100 TB pipeline actually runs (per-shard workers
    sketch locally; a coordinator folds fixed-size states). The corpus row
    ships as shard_id = -1.

    Envelope-audited like `cardinality_sketch_report`: the driver hash
    checks the exact counts (SQL-exact in both engines) AND the claim that
    every per-shard estimate and the merged estimate land within the
    pre-verified 5% bound (`_SKROLL_ERR`, >=2x the worst measured error on
    the shipped corpora) — the oracle carries the bucket as literal TRUE,
    so a drifted sketch flips the hash red. The raw estimates stay pinned
    in tests/test_sketch_rollup.py, including that merging the 16 shard
    sketches loses almost nothing vs the exact count (measured <=1.5%).

    Shingles are `strict_shingles` — the md5-twin rule (docs under 3
    tokens emit none), whose DuckDB form the minhash twin oracle already
    uses verbatim. Determinism: DataSketches HLL is a pure function of the
    input multiset with order-insensitive register maxima, so estimates
    cannot flap across shuffles; the sketch is fed the DEDUPED (shard,
    shingle) frame, which leaves HLL output unchanged (duplicate inserts
    are no-ops) while letting the exact count and the sketch share one
    shuffle. That shuffle-invariance argument is SPECIFIC to HLL (r12
    ADVICE): the KLL and theta members of this trilogy are merge-order-
    dependent once in estimation mode (KLL compaction and theta
    downsampling depend on arrival order), so THEIR estimates carry
    run-to-run wobble on top of the measured error — see the sibling
    docstrings and the multi-run envelope rule at `_THETA_INTER_ERR`. Scale: ONE corpus-scale exchange (the map-side-combined
    distinct on (shard, shingle)); everything after operates on <=16 rows
    plus one distinct over the deduped vocabulary. At 100 TB the exact
    side is the expensive half and exists as ground truth — the rollup's
    point is that the fixed-size mergeable states make it optional.
    """
    return _shard_sketch_full(spark, sf_dir).select(
        "shard_id",
        "n_docs",
        "exact_distinct_shingles",
        _skroll_est_ok(
            F.col("estimate"), F.col("exact_distinct_shingles")
        ).alias("est_within_5pct"),
    )


#: shard_quantile_rollup envelope — >=2x the worst rank deviation measured
#: on the shipped corpora (max 0.042 at sf0.001, where ~31-doc shards make
#: the deviation DISCRETENESS of the tied integer median, not sketch error;
#: at sf0.1 the measured max is 0.012, within the k=200 KLL's ~1.65% rank
#: guarantee). The merged-union estimate measures <=0.002 at every sf.
#: KLL compaction is merge-order-dependent once a shard exceeds k (r12
#: ADVICE) — measured maxima wobble run-to-run, so revalidating this
#: envelope at a new scale factor needs multi-run maxima (rule at
#: `_THETA_INTER_ERR`).
_SKQ_RANK_ERR = 0.10


def _shard_quantile_full(spark, sf_dir):
    """(shard_id, n_docs, exact_p50_tokens, est_p50, rank_err) — the raw
    rollup frame with the real KLL estimates and their midpoint-rank
    deviations (per-shard rows plus the merged-union corpus row at
    shard_id = -1); the registered query buckets rank_err, and the raw
    bound is pinned on THIS frame in tests/test_sketch_rollup.py."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        md5_bucket(F.col("doc_id"), _SHARD_N).alias("shard_id"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)  # feeds the sketch agg + two rank scans
    per = t.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile("n_tokens", 0.5).alias("exact_p50_tokens"),
        F.kll_sketch_agg_bigint("n_tokens").alias("sk"),
    )
    est = per.select(
        "shard_id",
        "n_docs",
        "exact_p50_tokens",
        F.kll_sketch_get_quantile_bigint("sk", F.lit(0.5)).alias("est_p50"),
    )

    def midpoint_rank_err(grouped):
        less = F.sum((F.col("n_tokens") < F.col("est_p50")).cast("long"))
        ties = F.sum((F.col("n_tokens") == F.col("est_p50")).cast("long"))
        rank = (less.cast(_D) + ties.cast(_D) / F.lit(2.0)) / F.count(
            F.lit(1)
        )
        return grouped.agg(F.abs(rank - F.lit(0.5)).alias("rank_err"))

    shard_rows = est.join(
        midpoint_rank_err(
            t.join(F.broadcast(est.select("shard_id", "est_p50")), "shard_id")
            .groupBy("shard_id")
        ),
        "shard_id",
    ).select(
        F.col("shard_id").cast("long").alias("shard_id"),
        "n_docs",
        "exact_p50_tokens",
        F.col("est_p50").cast("long").alias("est_p50"),
        "rank_err",
    )
    key = F.lit(-1).cast("long").alias("shard_id")
    merged = per.agg(F.kll_merge_agg_bigint("sk").alias("sk")).select(
        key,
        F.kll_sketch_get_quantile_bigint("sk", F.lit(0.5)).alias("est_p50"),
    )
    corp = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile("n_tokens", 0.5).alias("exact_p50_tokens"),
    ).select(key, "n_docs", "exact_p50_tokens")
    corp_rank = midpoint_rank_err(
        t.join(F.broadcast(merged), F.lit(True)).groupBy()
    ).select(key, "rank_err")
    corpus_row = (
        corp.join(merged, "shard_id")
        .join(corp_rank, "shard_id")
        .select(
            "shard_id",
            "n_docs",
            "exact_p50_tokens",
            F.col("est_p50").cast("long").alias("est_p50"),
            "rank_err",
        )
    )
    return shard_rows.unionByName(corpus_row)


@PIPE.register(
    "shard_quantile_rollup",
    oracle=f"""
    WITH t AS (
      SELECT {md5_bucket_sql('doc_id', _SHARD_N)} AS shard_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           quantile_cont(n_tokens, 0.5) AS exact_p50_tokens,
           TRUE AS rank_err_le_10pct
    FROM t GROUP BY shard_id
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           quantile_cont(n_tokens, 0.5), TRUE
    FROM t
    """,
)
def shard_quantile_rollup(spark, sf_dir):
    """Mergeable-quantile shard rollup — the KLL sibling of
    `shard_sketch_rollup`, completing the two-level-aggregation pair
    (HLL answers "how many distinct", KLL answers "how is it
    distributed"): each of the 16 md5-bucketed training shards sketches
    its per-doc token-count distribution with a DataSketches KLL
    (`kll_sketch_agg_bigint`, fixed-size mergeable state), and the
    corpus-wide median estimate comes from MERGING the 16 shard states
    (`kll_merge_agg_bigint`) — never from re-sorting the corpus. The
    corpus row ships as shard_id = -1.

    Envelope-audited in the `quantile_sketch_report` tradition: the
    driver hash checks the exact per-shard doc counts and interpolated
    medians (Spark `percentile` ≡ DuckDB `quantile_cont`, the
    `percentile_prices_by_flag` precedent) AND the claim that each
    sketch estimate's MIDPOINT rank (strictly-less + half the ties — the
    tie-robust form the r9 ADVICE mandated) deviates from 0.5 by at most
    10% (`_SKQ_RANK_ERR`, >=2x the worst measured deviation; at sf0.001
    the deviation is tied-integer-median discreteness over ~31-doc
    shards, not sketch error — the k=200 KLL guarantees ~1.65% rank
    error and measures 0.012 at sf0.1, with the merged estimate at
    <=0.002 everywhere). The oracle carries the bucket as literal TRUE;
    raw estimates and deviations stay pinned in
    tests/test_sketch_rollup.py.

    Scale: ONE map-side-combined sketch aggregate over a two-column
    projection (the exact medians are the audit's ground truth — at
    100 TB the rollup's point is that the fixed-size merged states make
    the exact sort optional), plus two bounded rank-verification scans
    against <=17 broadcast estimate rows.
    """
    full = _shard_quantile_full(spark, sf_dir)
    return full.select(
        "shard_id",
        "n_docs",
        "exact_p50_tokens",
        (F.col("rank_err") <= F.lit(_SKQ_RANK_ERR)).alias(
            "rank_err_le_10pct"
        ),
    )


#: source_overlap_sketch_audit envelope — >=2x the worst pairwise
#: intersection error measured on the shipped corpora (max 0.046 at sf0.1,
#: where ~10k-shingle source vocabularies exceed the theta sketch's 4096
#: nominal entries; at sf<=0.01 the sketches are in exact mode and the
#: error is identically 0).
#:
#: Merge-order caveat (r12 ADVICE): unlike HLL's register maxima, a theta
#: sketch in ESTIMATION mode is merge-order-dependent (downsampling keeps
#: a theta-dependent subset, and theta depends on what merged first), and
#: KLL compaction is likewise order-sensitive — so at sf0.1 the measured
#: worst error has run-to-run wobble on top of it. The >=2x-headroom rule
#: therefore binds against MULTI-RUN measured maxima, never a single
#: run's, whenever these envelopes are revalidated at a larger scale
#: factor (tests/test_sketch_rollup.py pins the shipped corpora; a new sf
#: needs fresh multi-run maxima before reusing the 2x rule).
_THETA_INTER_ERR = 0.10


def _source_overlap_full(spark, sf_dir):
    """(source_a, source_b, vocab_a, vocab_b, exact_overlap, est_inter)
    for every unordered source pair — the raw frame with the real theta
    intersection estimates; the registered query buckets est_inter, and
    the raw bound is pinned on THIS frame in tests/test_sketch_rollup.py."""
    from .dedup import strict_shingles

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        exploded_rows(
            d.select("source", tokens(F.col("text")).alias("t")),
            ["source"],
            strict_shingles("t"),
            "sh",
        )
        .distinct()
        .localCheckpoint(eager=False)  # sizes + sketches + exact self-join
    )
    per = vocab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.theta_sketch_agg("sh").alias("sk"),
    )
    a = per.select(
        F.col("source").alias("source_a"),
        F.col("n_vocab").alias("vocab_a"),
        F.col("sk").alias("__sk_a"),
    )
    b = per.select(
        F.col("source").alias("source_b"),
        F.col("n_vocab").alias("vocab_b"),
        F.col("sk").alias("__sk_b"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    ).select(
        "source_a",
        "source_b",
        "vocab_a",
        "vocab_b",
        F.theta_sketch_estimate(
            F.theta_intersection("__sk_a", "__sk_b")
        ).alias("est_inter"),
    )
    exact = (
        vocab.alias("x")
        .join(
            vocab.alias("y"),
            (F.col("x.sh") == F.col("y.sh"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return pairs.join(
        F.broadcast(exact), ["source_a", "source_b"], "left"
    ).select(
        "source_a",
        "source_b",
        "vocab_a",
        "vocab_b",
        F.coalesce("exact_overlap", F.lit(0))
        .cast("long")
        .alias("exact_overlap"),
        F.col("est_inter").cast("long").alias("est_inter"),
    )


@PIPE.register(
    "source_overlap_sketch_audit",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS sh
      FROM tok, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM sh GROUP BY source
    ), inter AS (
      SELECT a.source AS sa, b.source AS sb, COUNT(*) AS o
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT x.source AS source_a, y.source AS source_b,
           CAST(x.n AS BIGINT) AS vocab_a,
           CAST(y.n AS BIGINT) AS vocab_b,
           CAST(COALESCE(i.o, 0) AS BIGINT) AS exact_overlap,
           CAST(COALESCE(i.o, 0) AS DOUBLE)
             / (x.n + y.n - COALESCE(i.o, 0)) AS exact_jaccard,
           TRUE AS inter_est_within_10pct
    FROM sizes x
    JOIN sizes y ON x.source < y.source
    LEFT JOIN inter i ON i.sa = x.source AND i.sb = y.source
    """,
)
def source_overlap_sketch_audit(spark, sf_dir):
    """Pairwise source-vocabulary overlap from mergeable sketch states —
    the set-operation member completing the sketch trilogy (HLL counts
    distinct, KLL locates quantiles, Theta INTERSECTS sets — the one
    operation HLL structurally cannot do): each source publishes a
    DataSketches theta sketch of its 3-shingle vocabulary, and every
    pairwise overlap estimate comes from `theta_intersection` on two
    fixed-size states — the dataset-mixture diagnostic (which
    crawls/mirrors copy each other) at sketch cost, where the exact
    answer needs a vocabulary self-join. Sibling of the near-dup-based
    `cross_source_overlap` (that one counts duplicated DOCUMENT pairs;
    this one measures shared VOCABULARY mass).

    Envelope-audited: the driver hash checks the exact per-source
    vocabulary sizes, exact pairwise overlaps, and the exact Jaccard
    (one unrounded exact-operand int64 division, bit-identical
    cross-engine per the determinism rules) — plus the claim that every
    theta intersection estimate lands within 10% of its exact overlap
    (`_THETA_INTER_ERR`, >=2x the worst measured error; at sf<=0.01 the
    4096-entry sketches are in exact mode and the error is identically
    0, and the intersection of genuinely disjoint vocabularies is
    structurally 0 — no phantom overlap, a retained entry must hash-match
    in BOTH sketches). Raw estimates pinned in
    tests/test_sketch_rollup.py.

    Scale: one corpus-scale distinct on (source, shingle) feeding three
    consumers via localCheckpoint; the sketch path then works on 20
    rows (the per-source states) and a |sources|^2-bounded pair frame —
    at 100 TB the exact self-join is the expensive audit half, and the
    rollup's point is that the 190 intersection estimates cost nothing
    once the 20 states exist.
    """
    out = _source_overlap_full(spark, sf_dir)
    est_ok = F.when(
        F.col("exact_overlap") == 0, F.col("est_inter") == 0
    ).otherwise(
        F.abs(F.col("est_inter") - F.col("exact_overlap")).cast(_D)
        / F.col("exact_overlap")
        <= F.lit(_THETA_INTER_ERR)
    )
    return out.select(
        "source_a",
        "source_b",
        "vocab_a",
        "vocab_b",
        "exact_overlap",
        (
            F.col("exact_overlap").cast(_D)
            / (
                F.col("vocab_a") + F.col("vocab_b") - F.col("exact_overlap")
            )
        ).alias("exact_jaccard"),
        est_ok.alias("inter_est_within_10pct"),
    )


@PIPE.register(
    "mannwhitney_source_drift",
    oracle=f"""
    WITH t AS (
      SELECT source,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS v
      FROM documents
    ), hist AS (
      SELECT v, COUNT(*) AS c FROM t GROUP BY v
    ), ranked AS (
      SELECT v, 2*(SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2 FROM hist
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t
    ), ties AS (
      SELECT CAST(SUM(c*c*c - c) AS BIGINT) AS tie3 FROM hist
    ), sv AS (
      SELECT source, v, COUNT(*) AS sc FROM t GROUP BY 1, 2
    ), per AS (
      SELECT source, CAST(SUM(sc) AS BIGINT) AS n_docs,
             CAST(SUM(sc * r2) AS BIGINT) AS rank_sum_x2
      FROM sv JOIN ranked USING (v) GROUP BY source
    )
    SELECT source, n_docs, rank_sum_x2,
           CAST(rank_sum_x2 - n_docs*(n_docs+1) AS DOUBLE)/2 AS u_stat,
           CASE WHEN n > 1 AND
                (CAST(n_docs*(n-n_docs) AS DOUBLE)/12.0 *
                 (CAST(n+1 AS DOUBLE)
                  - CAST(tie3 AS DOUBLE)/CAST(n*(n-1) AS DOUBLE))) > 0
           THEN CAST(rank_sum_x2 - n_docs*(n_docs+1)
                     - n_docs*(n-n_docs) AS DOUBLE)
                / (2.0 * sqrt(CAST(n_docs*(n-n_docs) AS DOUBLE)/12.0 *
                   (CAST(n+1 AS DOUBLE)
                    - CAST(tie3 AS DOUBLE)/CAST(n*(n-1) AS DOUBLE))))
           ELSE 0.0 END AS z_value,
           CASE WHEN n > 1 AND
                (CAST(n_docs*(n-n_docs) AS DOUBLE)/12.0 *
                 (CAST(n+1 AS DOUBLE)
                  - CAST(tie3 AS DOUBLE)/CAST(n*(n-1) AS DOUBLE))) > 0
                AND abs(CAST(rank_sum_x2 - n_docs*(n_docs+1)
                             - n_docs*(n-n_docs) AS DOUBLE)
                        / (2.0 * sqrt(CAST(n_docs*(n-n_docs) AS DOUBLE)/12.0
                           * (CAST(n+1 AS DOUBLE)
                              - CAST(tie3 AS DOUBLE)
                                / CAST(n*(n-1) AS DOUBLE))))) > 1.959964
           THEN 1 ELSE 0 END AS drifted_5pct
    FROM per, tot, ties
    """,
)
def mannwhitney_source_drift(spark, sf_dir):
    """Per-source distribution-drift test — Mann-Whitney U of each
    source's per-doc token-count distribution against the rest of the
    corpus, the rank-based nonparametric companion to the parametric
    `ab_conversion_ztest`: quality/length distributions are skewed and
    tied, so a means test misses exactly the drift (one crawl suddenly
    shipping short docs) this catches. Uses the normal approximation
    with the standard tie correction; |z| > 1.96 flags the source for
    mixture review at the 5% level.

    The scale design is the point: NO global per-row sort. Average ranks
    come from the VALUE HISTOGRAM — rank2x(v) = 2·F(v) + t(v) + 1 (F =
    rows strictly below, t = ties at v), a window over the ~60-row
    histogram — and each source's rank sum is then Σ count(source, v) ·
    rank2x(v), a map-side-combinable aggregate over the (source, value)
    counts. Everything before the final z is INT64 in half-units
    (rank_sum_x2; u_stat is an exact half -> the /2 double is exact):
    overflow-safe to ~3e9 docs (n² terms; swap to decimal beyond, per
    the l_diversity precedent). For continuous metrics, bucket first —
    the histogram rank trick needs bounded distinct values.

    Determinism: z is a pure IEEE chain on exact int64 operands —
    divisions, one multiply, one sqrt, written as the TEXTUALLY
    identical expression tree in both engines — so it ships UNROUNDED
    (bit-identical, the CLAUDE.md rule); degenerate variance (all values
    tied, or n <= 1) short-circuits to 0.0 identically in both engines.
    The drifted_5pct flag derives from the same bits. Scale: one scan,
    two map-side-combined aggregates (histogram + per-source-value
    counts), a ~60-row broadcast rank table, and 1-row total/tie
    aggregates joined back (bounded BNLJ, allowlisted).
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("v")
    ).localCheckpoint(eager=False)  # histogram + per-source counts
    hist = t.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = hist.select(
        "v",
        (
            2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1
        ).alias("r2"),
    )
    sv = t.groupBy("source", "v").agg(F.count(F.lit(1)).alias("sc"))
    per = (
        sv.join(F.broadcast(ranked), "v")
        .groupBy("source")
        .agg(
            F.sum("sc").alias("n_docs"),
            F.sum(F.col("sc") * F.col("r2")).alias("rank_sum_x2"),
        )
    )
    key = F.lit(0).alias("k")
    tot = t.agg(F.count(F.lit(1)).alias("n")).select(key, "n")
    ties = hist.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias(
            "tie3"
        )
    ).select(key, "tie3")
    j = per.select(key, "*").join(tot, "k").join(ties, "k")
    n, n1 = F.col("n"), F.col("n_docs")
    var = (
        (n1 * (n - n1)).cast(_D)
        / F.lit(12.0)
        * (
            (n + 1).cast(_D)
            - F.col("tie3").cast(_D) / (n * (n - 1)).cast(_D)
        )
    )
    num = (
        F.col("rank_sum_x2") - n1 * (n1 + 1) - n1 * (n - n1)
    ).cast(_D)
    z = F.when((n > 1) & (var > 0), num / (F.lit(2.0) * F.sqrt(var))).otherwise(
        F.lit(0.0)
    )
    return j.select(
        "source",
        "n_docs",
        "rank_sum_x2",
        ((F.col("rank_sum_x2") - n1 * (n1 + 1)).cast(_D) / 2).alias(
            "u_stat"
        ),
        z.alias("z_value"),
        (F.abs(z) > F.lit(1.959964)).cast("int").alias("drifted_5pct"),
    )


#: mixture_token_allocation's training-mix budget: how many tokens the
#: next training run draws across sources. Apportionment is exact
#: integer arithmetic, so the only magnitude constraint is
#: budget * max(per-source tokens) < 2^63 — at this budget that allows
#: ~9.2e12 tokens per source; a 100 TB deployment lifts the products
#: into DECIMAL(38,0) (DuckDB folds to HUGEINT automatically).
_MIX_BUDGET = 1_000_000

#: Largest per-source token count whose budget product stays in int64.
_MIX_TOKEN_CEILING = (2**63 - 1) // _MIX_BUDGET


def _mix_guarded_tokens(tok):
    """Overflow guard on the apportionment inputs (r13 ADVICE): Spark's
    ``_MIX_BUDGET * n_tokens`` wraps silently past int64 while the
    DuckDB oracle promotes SUM to HUGEINT, so a too-large corpus would
    surface as a silent cross-engine hash divergence. assert_true makes
    it fail LOUDLY instead — the driver records an error, not a wrong
    answer. Runs on the |sources|-row aggregate, so the check is free;
    schema is unchanged (assert_true is NULL whenever it doesn't raise).
    A corpus that actually trips this lifts the products into
    DECIMAL(38,0) in BOTH engines (see ``_MIX_BUDGET``'s note).

    NULL n_tokens (a source whose texts are all NULL) must NOT trip the
    guard (r14 ADVICE): both engines agree the row's allocation is NULL,
    and ``x <= ceiling`` is NULL for NULL x, which assert_true raises on
    with a misleading overflow message — so the condition coalesces NULL
    to 0 (trivially under the ceiling) and the row passes through."""
    guard = F.assert_true(
        F.coalesce(F.col("n_tokens"), F.lit(0)) <= F.lit(_MIX_TOKEN_CEILING),
        F.concat(
            F.lit("mixture_token_allocation: n_tokens "),
            F.col("n_tokens").cast("string"),
            F.lit(
                f" exceeds the int64-safe ceiling {_MIX_TOKEN_CEILING} "
                f"for budget {_MIX_BUDGET}; fold the products into "
                f"DECIMAL(38,0) in both engines"
            ),
        ),
    )
    return tok.select(
        "source",
        "n_docs",
        F.when(guard.isNull(), F.col("n_tokens")).alias("n_tokens"),
    )


@PIPE.register(
    "mixture_token_allocation",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(len(list_filter(string_split_regex(lower(text),
                   '[^a-z0-9]+'), x -> x <> ''))) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_tokens) AS total FROM tok
    ), base AS (
      SELECT t.source, t.n_docs, t.n_tokens,
             CAST(({_MIX_BUDGET}::BIGINT * t.n_tokens) // tot.total
                  AS BIGINT) AS base_alloc,
             CAST(({_MIX_BUDGET}::BIGINT * t.n_tokens) % tot.total
                  AS BIGINT) AS remainder
      FROM tok t, tot
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rn,
             {_MIX_BUDGET} - SUM(base_alloc) OVER () AS k
      FROM base
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           base_alloc,
           CAST(CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT) AS bonus,
           CAST(base_alloc + CASE WHEN rn <= k THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
)
def mixture_token_allocation(spark, sf_dir):
    """Training-mix apportionment: split a fixed token budget across
    sources exactly proportionally to their corpus mass, with the
    largest-remainder (Hamilton) method breaking the rounding — the
    data-mixing step every multi-source training run performs before
    `token_budget_sample` draws the actual documents. Floor allocations
    under-spend the budget by k < |sources| tokens; the k largest
    remainders (ties to the lexicographically smaller source, both
    engines) each take one bonus token, so the allocations sum to the
    budget EXACTLY — conservation is pinned in
    tests/test_mixture_allocation.py.

    Determinism: apportionment is pure int64 arithmetic end to end —
    budget*n_tokens products, one integer division and modulus, an
    integer window sum, a ROW_NUMBER with a total tie-break — no float
    ever exists, so the hash cannot move (the temperature-weighted
    variant (n^tau) was deliberately NOT used: pow() is libm-dependent
    and a 20-term float denominator is shuffle-order-dependent; at
    tau=1 the exact-rational form IS the apportionment). Magnitude
    ceiling documented at `_MIX_BUDGET` and ENFORCED by
    `_mix_guarded_tokens` (assert_true — a too-large corpus errors
    loudly instead of wrapping int64 into a silent hash divergence;
    r13 ADVICE).

    Scale: one map-side-combined groupBy(source) over a two-column
    projection (the corpus-scale pass), then all window work happens on
    the |sources|=20-row frame — at 100 TB the apportionment costs the
    same 20-row sort it costs here.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = _mix_guarded_tokens(
        d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(F.col("text"))).cast("long")).alias(
                "n_tokens"
            ),
        )
    )
    wall = W.partitionBy()
    budget = F.lit(_MIX_BUDGET).cast("long")
    # exact integer division/modulus against the window total (the 20-row
    # frame — the corpus-scale work ended at the groupBy above)
    enriched = tok.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(f"CAST(({_MIX_BUDGET}L * n_tokens) DIV SUM(n_tokens) OVER () AS BIGINT)").alias("base_alloc"),
        F.expr(f"CAST(({_MIX_BUDGET}L * n_tokens) % SUM(n_tokens) OVER () AS BIGINT)").alias("remainder"),
    )
    ranked = enriched.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.desc("remainder"), F.asc("source")))
        .alias("rn"),
        (budget - F.sum("base_alloc").over(wall)).alias("k"),
    )
    bonus = (F.col("rn") <= F.col("k")).cast("long")
    return ranked.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tokens",
        "base_alloc",
        bonus.alias("bonus"),
        (F.col("base_alloc") + bonus).alias("alloc_tokens"),
    )


# --- URL/domain-level curation (r13 VERDICT item 5) -------------------------
# Web-corpus pipelines curate at the DOMAIN level before any doc-level
# dedup: a handful of hosts contribute most of the crawl, and per-domain
# caps/mix reports are the first lever against that concentration. The
# documents fixture has no URL column, so one is SYNTHESIZED
# deterministically from doc_id (the pii_mask_profiles precedent:
# synthesis is part of the operator contract, identical in both
# engines) with a skewed host distribution; two hosts share one
# registrable domain so the host->domain rollup actually groups.

#: (cumulative doc_id%100 upper bound, host) — ~30/20/12/10/8/6/5/4/2/
#: 1/1/1% of docs per host, Zipf-ish like a real crawl.
_DOMAIN_HOSTS = [
    (30, "pages.commoncrawl.example"),
    (50, "en.encyclopedia.example"),
    (62, "forum.discussions.example"),
    (72, "blog.hosting.example"),
    (80, "news.daily.example"),
    (86, "code.repos.example"),
    (91, "docs.reference.example"),
    (95, "recipes.cooking.example"),
    (97, "papers.scholar.example"),
    (98, "shop.products.example"),
    (99, "reviews.products.example"),
    (100, "weather.report.example"),
]

_DOMAIN_CAP = 25  # max docs kept per registrable domain

#: Host extraction regexes — [.] instead of \. so the pattern survives
#: both engines' string-literal escaping untouched.
_URL_HOST_RE = "https://([^/]+)/"
_REG_DOMAIN_RE = "([^.]+[.][^.]+)$"


def _url_synth_sql() -> str:
    """The synthesized URL column as ONE SQL fragment valid verbatim in
    both Spark SQL and DuckDB (CASE/concat/CAST-AS-STRING are
    dialect-shared), so the two engines cannot drift: Spark evaluates it
    via F.expr, the oracles inline the same string."""
    arms = " ".join(
        f"WHEN doc_id % 100 < {ub} THEN '{host}'"
        for ub, host in _DOMAIN_HOSTS[:-1]
    )
    case = f"CASE {arms} ELSE '{_DOMAIN_HOSTS[-1][1]}' END"
    return f"concat('https://', {case}, '/doc/', CAST(doc_id AS STRING))"


_DOMAIN_FRAME_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS n_tok,
             {_url_synth_sql()} AS url
      FROM documents
    ), h AS (
      SELECT doc_id, n_tok,
             regexp_extract(url, '{_URL_HOST_RE}', 1) AS host,
             regexp_extract(regexp_extract(url, '{_URL_HOST_RE}', 1),
                            '{_REG_DOMAIN_RE}', 1) AS domain
      FROM d
    )
"""


def _domain_frame(spark, sf_dir):
    """(doc_id, n_tok, host, domain): synthesized URL parsed back into
    host and registrable domain — shared by the mix report and the cap.
    The parse is the demonstrated operation (a real pipeline reads url
    from the crawl and starts at the regexp_extract)."""
    d = load_table(spark, sf_dir, "documents")
    url = F.expr(_url_synth_sql())
    host = F.regexp_extract(url, _URL_HOST_RE, 1)
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        host.alias("host"),
        F.regexp_extract(host, _REG_DOMAIN_RE, 1).alias("domain"),
    )


@PIPE.register(
    "domain_mix_report",
    oracle=_DOMAIN_FRAME_SQL
    + """
    , g AS (
      SELECT domain, COUNT(DISTINCT host) AS n_hosts,
             COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
      FROM h GROUP BY domain
    )
    SELECT domain,
           CAST(n_hosts AS BIGINT) AS n_hosts,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS doc_share,
           CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()
             AS token_share,
           CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, domain)
                AS BIGINT) AS token_rank
    FROM g
    """,
)
def domain_mix_report(spark, sf_dir):
    """Domain-mix report — the corpus-composition table every web-crawl
    curation run reads first: per registrable domain (host collapsed by
    `_REG_DOMAIN_RE`, so shop./reviews.products.example roll up
    together), the host count, document and token mass, the share of
    each, and a deterministic rank by token mass. Downstream, the
    shares drive per-domain caps (`domain_cap_docs`) and mixture
    weights (`source_mix_weights`' shape, keyed by domain).

    Determinism: counts and token sums are exact integers; each share
    is one int64->double divide against the window total (IEEE-exact on
    identical inputs, shipped unrounded per the repo rule); the rank
    tie-breaks on the domain text. The URL synthesis itself is one
    shared SQL fragment evaluated verbatim by both engines
    (`_url_synth_sql`).

    Scale: one narrow projection (synthesize + two regexp_extract, all
    codegen) into a map-side-combined groupBy(domain) — the corpus-
    scale pass collapses to |domains| rows before the window math, so
    at 100 TB the report costs one scan plus a ~registrable-domains-
    sized shuffle (tens of millions of rows at web scale — still one
    aggregate, and the same plan).
    """
    g = _domain_frame(spark, sf_dir).groupBy("domain").agg(
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    wall = W.partitionBy()
    return g.select(
        "domain",
        "n_hosts",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast(_D) / F.sum("n_docs").over(wall)).alias(
            "doc_share"
        ),
        (F.col("n_tokens").cast(_D) / F.sum("n_tokens").over(wall)).alias(
            "token_share"
        ),
        F.row_number()
        .over(W.orderBy(F.desc("n_tokens"), F.asc("domain")))
        .cast("long")
        .alias("token_rank"),
    )


@PIPE.register(
    "domain_cap_docs",
    oracle=_DOMAIN_FRAME_SQL
    + f"""
    , r AS (
      SELECT doc_id, host, domain,
             ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id)
               AS rn
      FROM h
    )
    SELECT doc_id, host, domain,
           CAST(rn AS BIGINT) AS rank_in_domain
    FROM r WHERE rn <= {_DOMAIN_CAP}
    """,
)
def domain_cap_docs(spark, sf_dir):
    """Per-domain document cap — `source_cap_docs`' rule keyed by
    registrable domain instead of the source label: keep the first
    25 (``_DOMAIN_CAP``) documents per domain in doc_id order
    (deterministic — a real
    run would order by a quality score; the rule, not the key, is the
    operator) and drop the rest. This is the standard anti-
    concentration lever run before doc-level dedup: without it the
    head domains dominate every downstream sample.

    Determinism: pure integer ROW_NUMBER with a total order
    (domain, doc_id) — no floats anywhere.

    Scale: one hash shuffle on domain for the window rank, then the
    filter. Skew caution at 100 TB: a head domain holds ~30% of the
    corpus, so a naive full-sort-per-domain window would hotspot one
    partition — but a cap-k rank only ever needs the first k rows per
    domain, so the production variant pre-aggregates candidate doc_ids
    per (domain, salt) and ranks the k·|salts| survivors (the
    `window_top3_suppliers_per_nation` salted two-stage precedent,
    demonstrated at this registry's scale by `weighted_sample_topk`).
    At test scale the single window IS that plan's final stage.
    """
    w = W.partitionBy("domain").orderBy("doc_id")
    return (
        _domain_frame(spark, sf_dir)
        .select(
            "doc_id",
            "host",
            "domain",
            F.row_number().over(w).cast("long").alias("rank_in_domain"),
        )
        .filter(F.col("rank_in_domain") <= _DOMAIN_CAP)
    )


# --- URL deny-list filtering (r14 VERDICT item 6) ---------------------------
# The blocklist rule every crawl runs alongside the mix report:
# priority-ordered regex deny rules over the URL, first match wins, docs
# matching no rule are kept. The rule table is a plan literal (the
# bloom-filter / classifier-weights precedent — a production list of
# ~100k patterns ships as a broadcast or a compiled RE2 set in the same
# slot); the output is the audit a curation run reads: one row per rule
# plus the 'kept' row, with doc/token counts and shares.

#: (rule_name, regex) in PRIORITY order — first match wins. Patterns
#: use [.] for literal dots (dialect-safe, the _URL_HOST_RE precedent)
#: and anchor on the synthesized URL shape. The rules are chosen to hit
#: every arm of the fixture's host distribution: commerce hosts match
#: by domain suffix, the forum by host prefix, and the doc-id spam rule
#: exercises a PATH pattern (ids ending in 7 — a stand-in for the
#: session-id/tracking-path rules real lists carry).
_URL_DENY_RULES = [
    ("commerce_domains", "https://[^/]*products[.]example/"),
    ("forum_hosts", "https://forum[.]"),
    ("spam_path_ids", "/doc/[0-9]*7$"),
]


def _deny_rule_expr(engine: str) -> str:
    """First-match-wins rule CASE over column ``url``, as a SQL
    expression valid in ``engine`` ('spark' | 'duckdb') — one
    generator, two regex-match spellings (`regexp_like` vs
    `regexp_matches`), so the rule semantics cannot drift between the
    query and its oracle."""
    match = "regexp_like" if engine == "spark" else "regexp_matches"
    arms = " ".join(
        f"WHEN {match}(url, '{pat}') THEN '{name}'"
        for name, pat in _URL_DENY_RULES
    )
    return f"CASE {arms} ELSE 'kept' END"


def _deny_priority_sql() -> str:
    """Rule name -> priority (1-based list order; kept = 0) as a CASE
    over column ``rule`` — dialect-shared."""
    arms = " ".join(
        f"WHEN rule = '{name}' THEN {i + 1}"
        for i, (name, _) in enumerate(_URL_DENY_RULES)
    )
    return f"CAST(CASE {arms} ELSE 0 END AS BIGINT)"


@PIPE.register(
    "url_denylist_filter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS n_tok,
             {_url_synth_sql()} AS url
      FROM documents
    ), v AS (
      SELECT doc_id, n_tok, {_deny_rule_expr("duckdb")} AS rule
      FROM d
    ), g AS (
      SELECT rule, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
      FROM v GROUP BY rule
    )
    SELECT rule,
           {_deny_priority_sql()} AS priority,
           CAST(rule <> 'kept' AS BIGINT) AS dropped,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS doc_share
    FROM g
    """,
)
def url_denylist_filter(spark, sf_dir):
    """URL DENY-LIST filtering audit — priority-ordered regex rules
    over the (synthesized) URL column, first match wins, unmatched docs
    are kept: one row per rule plus the 'kept' row with doc/token
    counts and the doc share. This is the report a crawl-curation run
    reads before committing a blocklist change — which rules fire, how
    much token mass each drops, and what survives (the keep-rate).
    Pattern-keyed URL rejection is the stage every web pipeline runs
    between the crawl and `gopher_quality_gate`; `domain_cap_docs`
    caps what this filter keeps.

    Determinism: the rule CASE is generated once with two regex-match
    spellings (`_deny_rule_expr` — the `_bpe_encode_expr` lockstep
    precedent); counts are int64, the one float is a single int64
    divide (IEEE-exact, unrounded per the repo rule). First-match-wins
    makes the per-doc verdict unique, so shares sum to exactly 1.

    Scale: one scan — synthesize/parse the URL, one CASE with |rules|
    RE2 matches per doc (a 100k-rule production list compiles to one
    set-matching automaton in the same slot; the CASE is the |rules|
    small case), then a map-side-combined groupBy collapsing to
    |rules|+1 rows before the single exchange. The share window runs
    on |rules|+1 rows — free. No join, no broadcast state beyond the
    plan-literal rule table.
    """
    d = load_table(spark, sf_dir, "documents")
    v = d.select(
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.expr(_url_synth_sql()).alias("url"),
    ).select("n_tok", F.expr(_deny_rule_expr("spark")).alias("rule"))
    g = v.groupBy("rule").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    return g.select(
        "rule",
        F.expr(_deny_priority_sql()).alias("priority"),
        (F.col("rule") != F.lit("kept")).cast("long").alias("dropped"),
        "n_docs",
        "n_tokens",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(W.partitionBy())
        ).alias("doc_share"),
    )


# --- HTML/boilerplate extraction (r14 VERDICT item 4) -----------------------
# The standard web-pipeline stage between the crawl and
# `gopher_quality_gate`: strip script/markup, drop boilerplate blocks
# (nav / footer / ad inserts), extract the main text, and emit the
# boilerplate SIGNALS quality gates consume (markup fraction, link
# density). The documents fixture stores clean text, so markup is
# SYNTHESIZED deterministically around it from doc_id (the
# _url_synth_sql / pii profile-synthesis precedent: synthesis is part
# of the operator contract, identical in both engines) — the
# extraction chain then has to EARN the text back out.

#: Deterministic markup arms: every 5th doc carries an ad block, every
#: 3rd doc closes with a related-links paragraph — so link density and
#: markup fraction vary across docs and every CASE arm occurs in any
#: 15-doc window.
_ADS_DIV = '<div class="ads"><a href="/buy">buy now</a><a href="/deal">deal</a></div>'


def _html_synth_sql() -> str:
    """The synthesized page for each document as ONE dialect-shared SQL
    fragment (concat/CASE/CAST only): head with a script block, nav
    boilerplate, the real document text in the content paragraph,
    doc_id-keyed ad/related-links arms, and a footer."""
    return (
        "concat('<html><head><title>Doc ', CAST(doc_id AS STRING),"
        " '</title><script>var docId=', CAST(doc_id AS STRING),"
        " ';track();</script></head><body>',"
        " '<nav><a href=\"/\">home</a><a href=\"/about\">about</a></nav>',"
        f" CASE WHEN doc_id % 5 = 0 THEN '{_ADS_DIV}' ELSE '' END,"
        # coalesce: DuckDB's concat skips NULL args while Spark's
        # returns NULL — a NULL text row would silently diverge
        " '<p>', coalesce(text, ''), '</p>',"
        " CASE WHEN doc_id % 3 = 0 THEN concat("
        "'<p>See <a href=\"/doc/', CAST(doc_id + 1 AS STRING),"
        " '\">next</a> and <a href=\"/doc/', CAST(doc_id + 2 AS STRING),"
        " '\">related</a>.</p>') ELSE '' END,"
        " '<footer><a href=\"/terms\">terms</a></footer></body></html>')"
    )


#: Boilerplate blocks removed before tag stripping — script bodies plus
#: the structural nav/footer/ads containers (non-greedy spans; none of
#: the synthesized blocks nest). Kept as one alternation so both
#: engines run the identical pattern.
_BOILER_RE = (
    "<script>.*?</script>|<nav>.*?</nav>|<footer>.*?</footer>"
    '|<div class="ads">.*?</div>'
)
_TAG_RE = "<[^>]*>"


def _re_replace(engine: str, expr: str, pat: str, rep: str) -> str:
    """Global regexp_replace in either dialect (Spark's 3-arg form is
    global; DuckDB needs the 'g' flag) — the `_bpe_encode_expr`
    lockstep pattern."""
    if engine == "spark":
        return f"regexp_replace({expr}, '{pat}', '{rep}')"
    return f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"


def _html_main_sql(engine: str, html: str = "html") -> str:
    """Main-content text of ``html``: boilerplate blocks removed, then
    every remaining tag replaced by a space (so adjacent text runs
    don't fuse into one token)."""
    return _re_replace(
        engine, _re_replace(engine, html, _BOILER_RE, ""), _TAG_RE, " "
    )


def _count_occurrences_sql(engine: str, expr: str, pat: str) -> str:
    """Occurrence count of regex ``pat`` in ``expr`` — the shared
    len(regexp_extract_all(..)) idiom (`token_count_bpe` precedent)."""
    if engine == "spark":
        return f"size(regexp_extract_all({expr}, '{pat}', 0))"
    return f"len(regexp_extract_all({expr}, '{pat}'))"


def _alnum_chars_sql(engine: str, expr: str) -> str:
    """Count of [a-z0-9] characters in lower(expr) — the markup-free
    character mass, dialect-lockstep."""
    return (
        "length("
        + _re_replace(engine, f"lower({expr})", "[^a-z0-9]", "")
        + ")"
    )


def _html_metrics_sql(engine: str) -> str:
    """The per-document extraction + signal block over a relation ``d``
    holding (doc_id, html) — the oracle's CTE body. The Spark build
    assembles the SAME generated fragments column-by-column (no temp
    view), so both engines run identical regex chains; the 'spark' arm
    exists so a test can diff the two dialect renderings."""
    main = _html_main_sql(engine)
    return f"""
      SELECT doc_id,
             CAST(length(html) AS BIGINT) AS html_chars,
             CAST({_count_occurrences_sql(engine, "html", "<a href")}
                  AS BIGINT) AS n_links_total,
             CAST({_count_occurrences_sql(
                 engine,
                 _re_replace(engine, "html", _BOILER_RE, ""),
                 "<a href",
             )} AS BIGINT) AS n_links_main,
             CAST({_count_occurrences_sql(
                 engine, main, "[a-zA-Z0-9]+"
             )} AS BIGINT) AS n_main_tokens,
             CAST({_alnum_chars_sql(engine, main)} AS BIGINT)
               AS main_alnum_chars,
             CAST({_count_occurrences_sql(
                 engine, "html", 'class="ads"'
             )} AS BIGINT) AS has_ads_block
      FROM d
    """


@PIPE.register(
    "html_boilerplate_extract",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_html_synth_sql()} AS html FROM documents
    ), m AS (
      {_html_metrics_sql("duckdb")}
    )
    SELECT doc_id, html_chars, n_links_total, n_links_main,
           n_main_tokens, main_alnum_chars, has_ads_block,
           CAST(html_chars - main_alnum_chars AS DOUBLE) / html_chars
             AS markup_fraction,
           CAST(n_links_main AS DOUBLE) / NULLIF(n_main_tokens, 0)
             AS link_density
    FROM m
    """,
)
def html_boilerplate_extract(spark, sf_dir):
    """HTML/BOILERPLATE extraction — the crawl-to-text stage the
    pipeline surface still lacked (r14 VERDICT item 4): each document
    is wrapped in deterministic doc_id-keyed markup (script block, nav,
    ad inserts on every 5th doc, related-links paragraph on every 3rd,
    footer — `_html_synth_sql`), and the extraction chain strips
    boilerplate blocks then tags to recover the main text, emitting the
    per-doc boilerplate SIGNALS a quality gate consumes: markup
    fraction (non-text share of the page), main-content link counts,
    token/char mass of the extracted text, and link density.

    Determinism: the synthesis fragment is dialect-shared (concat/CASE
    only); the extraction regexes run through one generator with two
    regexp_replace spellings (`_re_replace`, the `_bpe_encode_expr`
    lockstep precedent); every count is int64; the two floats are
    single int64 divides on exact operands (IEEE-exact, shipped
    unrounded per the repo rule), with NULLIF guarding the zero-token
    page in both engines identically.

    Scale: a pure narrow map — no shuffle AT ALL (per-doc metrics, no
    aggregation); the scan prunes to (doc_id, text). Each doc pays a
    bounded number of RE2/Java-regex passes proportional to page size —
    exactly the per-record cost profile of a production
    trafilatura/jusText stage, whose fancier scoring slots into the
    same map. At 100 TB this runs as the ingest pass that writes the
    extracted-text column + signals next to the raw page, and every
    downstream gate (`gopher_quality_gate`, `quality_model_score`)
    filters on these columns without touching markup again.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_html_synth_sql()).alias("html")
    )
    boiler_free = _re_replace("spark", "html", _BOILER_RE, "")
    main = _html_main_sql("spark")
    m = d.select(
        "doc_id",
        F.length("html").cast("long").alias("html_chars"),
        F.expr(_count_occurrences_sql("spark", "html", "<a href"))
        .cast("long")
        .alias("n_links_total"),
        F.expr(_count_occurrences_sql("spark", boiler_free, "<a href"))
        .cast("long")
        .alias("n_links_main"),
        F.expr(_count_occurrences_sql("spark", main, "[a-zA-Z0-9]+"))
        .cast("long")
        .alias("n_main_tokens"),
        F.expr(_alnum_chars_sql("spark", main))
        .cast("long")
        .alias("main_alnum_chars"),
        F.expr(_count_occurrences_sql("spark", "html", 'class="ads"'))
        .cast("long")
        .alias("has_ads_block"),
    )
    return m.select(
        "doc_id",
        "html_chars",
        "n_links_total",
        "n_links_main",
        "n_main_tokens",
        "main_alnum_chars",
        "has_ads_block",
        (
            (F.col("html_chars") - F.col("main_alnum_chars")).cast("double")
            / F.col("html_chars")
        ).alias("markup_fraction"),
        (
            F.col("n_links_main").cast("double")
            / F.nullif(F.col("n_main_tokens"), F.lit(0))
        ).alias("link_density"),
    )


@PIPE.register(
    "html_outlink_graph",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_html_synth_sql()} AS html FROM documents
    ), e AS (
      SELECT doc_id AS src,
             CAST(unnest(regexp_extract_all(html, '/doc/([0-9]+)', 1))
                  AS BIGINT) AS dst
      FROM d
    ), outd AS (
      SELECT src, COUNT(*) AS n_out FROM e GROUP BY src
    ), ind AS (
      SELECT dst, COUNT(*) AS n_in FROM e GROUP BY dst
    )
    SELECT d.doc_id,
           CAST(COALESCE(outd.n_out, 0) AS BIGINT) AS outdegree,
           CAST(COALESCE(ind.n_in, 0) AS BIGINT) AS indegree
    FROM d
    LEFT JOIN outd ON d.doc_id = outd.src
    LEFT JOIN ind ON d.doc_id = ind.dst
    """,
)
def html_outlink_graph(spark, sf_dir):
    """OUTLINK-GRAPH extraction from the crawled pages — the stage after
    `html_boilerplate_extract` in every web pipeline: parse the
    document-to-document hrefs out of the (synthesized) markup and emit
    each page's out- and in-degree, the raw material of link-based
    quality priors (PageRank-style scores over exactly this edge list —
    `neardup_graph_pagerank` demonstrates the iteration at this
    registry's scale). Links come from the related-links CASE arm
    (every 3rd doc links to doc_id+1 and doc_id+2), so the graph has
    known structure the tests pin: outdegree 2 on the %3 arm, indegree
    1 off it, and DANGLING links at the corpus tail (targets past the
    last doc_id) that count in outdegree but give nobody indegree —
    exactly how a real crawl's frontier edges behave.

    Determinism: one shared '/doc/([0-9]+)' extraction regex verbatim
    in both engines; pure integer degrees, no floats at all.

    Scale: extract + explode is the narrow map; indegree is ONE
    map-side-combined groupBy on the edge list (the canonical web-graph
    shuffle — |edges| rows keyed by target); degrees re-join the doc
    spine on doc_id. At 100 TB this is the standard two-shuffle
    edge-list aggregation every link-graph build runs; the explode
    never materializes more than the page's own hrefs, and AQE
    coalesces the tiny degree tables' partitions.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_html_synth_sql()).alias("html")
    )
    links = d.select(
        "doc_id",
        F.expr("regexp_extract_all(html, '/doc/([0-9]+)', 1)").alias(
            "targets"
        ),
    )
    outd = links.select(
        "doc_id", F.size("targets").cast("long").alias("outdegree")
    )
    edges = links.select(
        F.explode("targets").alias("dst_s")
    ).select(F.col("dst_s").cast("long").alias("dst"))
    ind = edges.groupBy("dst").agg(
        F.count(F.lit(1)).alias("n_in")
    )
    return (
        outd.join(ind, outd.doc_id == ind.dst, "left")
        .select(
            "doc_id",
            "outdegree",
            F.coalesce(F.col("n_in"), F.lit(0)).cast("long").alias(
                "indegree"
            ),
        )
    )
