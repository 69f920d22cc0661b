"""Reference-parity surface exposed through the driver contract.

``excel_roundtrip`` exercises the full reference pipeline (O1, O3-O9, O12
semantics) as a driver-checkable query: synthesize a deterministic workbook,
convert it through the engine, read the parquet back. Value-oracled since
round-5 session 2: the DuckDB oracle recomputes every expected cell string
arithmetically from the fixture formula (the multimodal-manifest trick), so
the driver hash-checks the conversion itself; the pytest suite additionally
covers golden-value parity for the same path. The JSONL/CSV/XML/text/ORC
ingestion queries below extend the same source/sink matrix with the same
arithmetic-oracle contract.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ..sinks.parquet import to_single_parquet_file
from ..sources.excel import read_excel
from .base import Registry, load_table

MISC = Registry()


def _import_xlsx_writer():
    """The stdlib xlsx writer lives in the repo's tests package; derive
    the repo root from this file (…/data_to_parquet_spark/operators/ →
    two levels up) instead of hardcoding an absolute checkout path
    (r9 ADVICE)."""
    import sys

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    from tests.xlsx_fixture import write_xlsx

    return write_xlsx


def _make_fixture(path: str) -> None:
    # deterministic workbook: 100 rows, every cell-type arm
    write_xlsx = _import_xlsx_writer()

    rows = [["id", "amount", "name", "active", "when_iso", "err"]]
    for i in range(100):
        rows.append(
            [
                i,
                i * 1.5,
                f"name_{i}",
                i % 2 == 0,
                ("iso", f"2024-01-{(i % 28) + 1:02d}T10:30:00"),
                ("error", "#DIV/0!") if i % 10 == 0 else f"ok{i}",
            ]
        )
    write_xlsx(path, {"Data": rows})


_XLSX_RT_ORACLE = """
    SELECT CAST(i AS VARCHAR) AS id,
           CASE WHEN i % 2 = 0 THEN CAST((3 * i) // 2 AS VARCHAR)
                ELSE CAST((3 * i) // 2 AS VARCHAR) || '.5' END AS amount,
           'name_' || CAST(i AS VARCHAR) AS name,
           CASE WHEN i % 2 = 0 THEN 'true' ELSE 'false' END AS active,
           strftime(DATE '2024-01-01' + INTERVAL (i % 28) DAY,
                    '%Y-%m-%d') || 'T10:30:00' AS when_iso,
           CASE WHEN i % 10 = 0 THEN 'Div0'
                ELSE 'ok' || CAST(i AS VARCHAR) END AS err
    FROM generate_series(0, 99) AS t(i)
    """


@MISC.register("excel_roundtrip", oracle=_XLSX_RT_ORACLE)
def excel_roundtrip(spark, sf_dir):
    """Excel → DataFrame → single ZSTD parquet → read back (full O1-O12
    path). Oracled since round-5 session 2 (was rows-only): the DuckDB
    oracle recomputes every expected CELL STRING arithmetically from the
    fixture formula — shortest-roundtrip float rendering ('1.5' / '3',
    never '3.0'), lowercase booleans, ISO datetimes, and the reference's
    error-token mapping ('#DIV/0!' → 'Div0') — so a hash match
    value-checks the entire convert pipeline (parse → type stringify →
    parquet sink → re-scan), not just that it ran."""
    tmp = tempfile.mkdtemp(prefix="d2p_roundtrip_")
    src = os.path.join(tmp, "fixture.xlsx")
    out = os.path.join(tmp, "fixture.parquet")
    _make_fixture(src)
    df = read_excel(spark, src, sheet_name="Data")
    to_single_parquet_file(df, out)
    return spark.read.parquet(out)


_MS_ROWS = {"alpha": 40, "beta": 30, "gamma": 20}


def _make_multisheet_fixture(path: str) -> None:
    """Three sheets, three different header schemas, every cell derived
    arithmetically from its index (the oracle recomputes them)."""
    write_xlsx = _import_xlsx_writer()

    alpha = [["id", "val"]] + [
        [i, i * 3] for i in range(_MS_ROWS["alpha"])
    ]
    beta = [["id", "val", "tag"]] + [
        [100 + i, i * 5, f"t{i % 4}"] for i in range(_MS_ROWS["beta"])
    ]
    gamma = [["id", "note"]] + [
        [200 + i, f"n_{(i * 7) % 13}"] for i in range(_MS_ROWS["gamma"])
    ]
    write_xlsx(path, {"alpha": alpha, "beta": beta, "gamma": gamma})


@functools.cache
def _multisheet_fixture() -> str:
    """The fixture is deterministic, so a process writes it once (one temp
    directory, removed at exit) and every call reads the same file."""
    tmp = tempfile.mkdtemp(prefix="d2p_multisheet_")
    atexit.register(shutil.rmtree, tmp, True)
    src = os.path.join(tmp, "fixture.xlsx")
    _make_multisheet_fixture(src)
    return src


@MISC.register(
    "excel_multisheet_union",
    oracle=f"""
    SELECT CAST(i AS VARCHAR) AS id, CAST(i * 3 AS VARCHAR) AS val,
           CAST(NULL AS VARCHAR) AS tag, CAST(NULL AS VARCHAR) AS note,
           'alpha' AS _sheet
    FROM generate_series(0, {_MS_ROWS['alpha'] - 1}) AS t(i)
    UNION ALL
    SELECT CAST(100 + i AS VARCHAR), CAST(i * 5 AS VARCHAR),
           't' || CAST(i % 4 AS VARCHAR), CAST(NULL AS VARCHAR), 'beta'
    FROM generate_series(0, {_MS_ROWS['beta'] - 1}) AS t(i)
    UNION ALL
    SELECT CAST(200 + i AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), 'n_' || CAST((i * 7) % 13 AS VARCHAR),
           'gamma'
    FROM generate_series(0, {_MS_ROWS['gamma'] - 1}) AS t(i)
    """,
)
def excel_multisheet_union(spark, sf_dir):
    """Multi-sheet workbook union (round-9 unfreeze): read EVERY sheet of
    one workbook — three sheets with three different header schemas — and
    union them by column name with NULL back-fill, tagged with the sheet
    name. The reference resolves exactly one sheet per conversion
    (``src/lib.rs:105-124``); this is the extension of that surface a
    multi-tab spreadsheet feed needs (pandas' ``sheet_name=None``). The
    DuckDB oracle recomputes every cell string arithmetically from the
    fixture formulas, so the hash checks per-sheet header inference, the
    reference cell stringify rules, the by-name union, and the NULL
    back-fill together.

    Scale: per-sheet plans parallelize like any read_excel (one task per
    file/split); the union is plan-level concatenation, no shuffle.
    """
    from ..sources.excel import read_excel_all_sheets

    return read_excel_all_sheets(spark, _multisheet_fixture()).select(
        "id", "val", "tag", "note", "_sheet"
    )


_JSONL_ROWS = 2000


def _jsonl_fixture(path: str) -> None:
    """Deterministic JSONL corpus: every row derived arithmetically from
    its index (the oracle recomputes the same rows from generate_series,
    so correctness never depends on reading the file twice). Exercises
    the parser arms that bite in practice: absent fields → NULL, booleans,
    decimal text → double, and \\uXXXX escapes (ensure_ascii)."""
    import json

    with open(path, "w") as f:
        for i in range(_JSONL_ROWS):
            row = {
                "id": i,
                "name": f"name_{(i * 13) % 97}",
                "flag": i % 3 == 0,
            }
            if i % 5 != 0:
                row["score"] = ((i * 7) % 1000) / 10.0
            if i % 7 == 0:
                row["note"] = f"café {i}"
            f.write(json.dumps(row, ensure_ascii=True) + "\n")


@MISC.register(
    "jsonl_ingest",
    oracle=f"""
    SELECT i AS id,
           'name_' || CAST((i * 13) % 97 AS VARCHAR) AS name,
           CASE WHEN i % 5 = 0 THEN NULL
                ELSE ((i * 7) % 1000) / 10.0 END AS score,
           i % 3 = 0 AS flag,
           CASE WHEN i % 7 = 0 THEN 'café ' || CAST(i AS VARCHAR)
                ELSE NULL END AS note
    FROM generate_series(0, {_JSONL_ROWS - 1}) AS t(i)
    """,
)
def jsonl_ingest(spark, sf_dir):
    """JSONL ingestion — the interchange format every LLM training-data
    pipeline speaks: write a deterministic .jsonl corpus, read it through
    Spark's native json source with an EXPLICIT schema, and emit the typed
    rows. The DuckDB oracle recomputes every row arithmetically from the
    fixture formula, so a hash match proves Spark's JSON parser handles
    absent→NULL fields, booleans, decimal-text doubles, and unicode
    escapes exactly.

    Scale: newline-delimited JSON splits at line boundaries, so a 100 TB
    corpus parallelizes per HDFS block with no coordination; pinning the
    schema up front skips the inference pre-pass (a full extra scan), and
    unused columns are pruned at the parser. Conversion to parquet from
    here is ``df.write.parquet`` — the reference's pipeline shape (O12)
    with JSONL in place of Excel.
    """
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "d2p_jsonl_fixture.jsonl")
    _jsonl_fixture(path)
    return (
        spark.read.schema(
            "id long, name string, score double, flag boolean, note string"
        )
        .json(path)
        .select("id", "name", "score", "flag", "note")
    )


_CSV_ROWS = 2000


def _csv_fixture(path: str) -> None:
    """Deterministic CSV corpus via the stdlib csv writer (RFC-4180
    quoting: embedded commas and doubled quotes), same arithmetic-oracle
    contract as the JSONL fixture. Empty string cells become NULL under
    Spark's default nullValue."""
    import csv

    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "label", "qty", "price"])
        for i in range(_CSV_ROWS):
            label = "" if i % 4 == 0 else f'it,em "{i % 53}"'
            w.writerow([i, label, i % 11, f"{(i * 3) % 500}.{i % 10}"])


@MISC.register(
    "csv_ingest",
    oracle=f"""
    SELECT i AS id,
           CASE WHEN i % 4 = 0 THEN NULL
                ELSE 'it,em "' || CAST(i % 53 AS VARCHAR) || '"' END
             AS label,
           i % 11 AS qty,
           CAST((i * 3) % 500 AS VARCHAR) || '.'
             || CAST(i % 10 AS VARCHAR) AS price
    FROM generate_series(0, {_CSV_ROWS - 1}) AS t(i)
    """,
)
def csv_ingest(spark, sf_dir):
    """CSV ingestion through Spark's native csv source: header row,
    RFC-4180 quoting (embedded commas, doubled quotes — ``escape`` set to
    ``\"`` because Spark's default is backslash), and empty-cell → NULL.
    Price is read as STRING deliberately: the oracle reproduces the exact
    text, proving the parser's field segmentation rather than float
    formatting. The DuckDB oracle recomputes all rows arithmetically —
    no second read of the file.

    Scale: like JSONL, CSV splits at line boundaries (quoted embedded
    newlines would force multiLine=true and kill splittability — the
    fixture deliberately has none, which is the format guidance a 100 TB
    pipeline should enforce at the producer); schema pinned, no inference
    scan.
    """
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "d2p_csv_fixture.csv")
    _csv_fixture(path)
    return (
        spark.read.schema("id long, label string, qty long, price string")
        .option("header", "true")
        .option("escape", '"')
        .csv(path)
        .select("id", "label", "qty", "price")
    )


@MISC.register(
    "orc_roundtrip",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id)) AS id_digest
    FROM documents GROUP BY lang, source
    """,
)
def orc_roundtrip(spark, sf_dir):
    """ORC sink + source round trip: write the documents table to ORC
    (Spark's second built-in columnar format), read it back, and aggregate
    — the oracle runs the same aggregate on the ORIGINAL parquet, so a
    hash match proves every row and value survived the format conversion
    (the id_digest pins exact membership, not just counts).

    Scale: ORC shares parquet's stripe/row-group pruning and predicate
    pushdown in Spark; the write is one narrow stage (no shuffle), and at
    100 TB this is the standard interchange path with Hive-era consumers.
    """
    import os
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(),
        f"d2p_orc_roundtrip_{abs(hash(sf_dir)) % 10**8}",
    )
    d.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("id_digest"),
        )
    )


_XML_ROWS = 1500


def _xml_fixture(path: str) -> None:
    """Deterministic XML corpus (same arithmetic-oracle contract as the
    JSONL/CSV fixtures): attributes, element text, absent elements → NULL,
    and entity-escaped content."""
    from xml.sax.saxutils import escape

    with open(path, "w") as f:
        f.write("<rows>\n")
        for i in range(_XML_ROWS):
            name = escape(f"item <{i % 41}> & co")
            score = f"<score>{(i * 3) % 97}</score>" if i % 6 != 0 else ""
            f.write(
                f'  <row id="{i}"><name>{name}</name>{score}</row>\n'
            )
        f.write("</rows>\n")


@MISC.register(
    "xml_ingest",
    oracle=f"""
    SELECT i AS id,
           'item <' || CAST(i % 41 AS VARCHAR) || '> & co' AS name,
           CASE WHEN i % 6 = 0 THEN NULL
                ELSE (i * 3) % 97 END AS score
    FROM generate_series(0, {_XML_ROWS - 1}) AS t(i)
    """,
)
def xml_ingest(spark, sf_dir):
    """XML ingestion through Spark 4's native xml source (the spark-xml
    merge): attribute columns (``_id`` via ``attributePrefix``), element
    text, absent-element → NULL, and entity unescaping (&lt;/&amp;). The
    DuckDB oracle recomputes all rows arithmetically — a hash match proves
    the parser's structure handling end to end.

    Scale: unlike JSONL/CSV, XML rows span lines, so the source splits on
    the rowTag boundary scan rather than newlines — still distributed, but
    the docstring-level guidance for a 100 TB feed is: land XML once,
    convert to parquet (this query's shape), never re-scan it.
    """
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "d2p_xml_fixture.xml")
    _xml_fixture(path)
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .option("attributePrefix", "_")
        .schema("_id long, name string, score long")
        .load(path)
        .select(
            F.col("_id").alias("id"),
            "name",
            "score",
        )
    )


@MISC.register(
    "text_source_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars,
           md5(string_agg(md5(text), ',' ORDER BY md5(text)))
             AS corpus_digest
    FROM documents
    """,
)
def text_source_roundtrip(spark, sf_dir):
    """Line-oriented text source round trip: dump every document as one
    line of a .txt corpus (the rawest LLM-data interchange form), read it
    back through ``spark.read.text``, and emit a content digest (md5 over
    the sorted per-line md5s). The oracle computes the same digest from
    the ORIGINAL parquet table, so a hash match proves the dump+scan is
    lossless. (The corpus has no embedded newlines — the precondition
    line-oriented text requires; the writer would have to escape
    otherwise.)

    Scale: text splits per line like JSONL/CSV; the digest aggregate is
    one map-side-combined pass. The fixture dump is a driver-side loop
    ONLY because the oracle needs one deterministic local file — the
    production dump is ``df.write.text`` (distributed, same format). The
    sort inside the digest is over the collected hash LIST per group
    (single global group) — fine for a checksum, not a pattern for
    data-sized output.
    """
    import os
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        f"d2p_text_roundtrip_{abs(hash(sf_dir)) % 10**8}.txt",
    )
    with open(path, "w") as f:
        for row in d.select("text").toLocalIterator():
            f.write(row["text"] + "\n")
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.md5(
            F.concat_ws(",", F.array_sort(F.collect_list(F.md5("value"))))
        ).alias("corpus_digest"),
    )


@MISC.register(
    "partitioned_write_pruning",
    oracle="""
    SELECT event_type,
           user_id % 100 AS user_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           md5(string_agg(CAST(event_id AS VARCHAR), ','
                          ORDER BY event_id)) AS id_digest
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type, user_id % 100
    """,
)
def partitioned_write_pruning(spark, sf_dir):
    """Hive-partitioned lakehouse round trip: write events partitioned by
    ``event_type`` (directory-per-value layout), read back ONLY two
    partitions via a partition-column filter, and aggregate — the oracle
    runs the same aggregate on the ORIGINAL table, so a hash match proves
    both that the partitioned write lost nothing and that the pruned read
    returned exactly the selected partitions (id_digest pins membership).

    This is THE layout decision for a 100 TB event table: a predicate on
    the partition column never touches the other partitions' files — the
    directory listing is the index. tests/test_partitioned_layout.py
    asserts the physical plan carries PartitionFilters (pruning happens at
    planning, not post-scan) and that the on-disk layout is one
    directory per type. Scale: the write shuffles nothing (partitionBy
    splits at the task level); low-cardinality partition keys only —
    partitioning by a high-cardinality key would produce a
    directory-per-value small-file explosion, which is what bucketing
    (plans/bucketing.py) is for instead.
    """
    e = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        f"d2p_part_events_{abs(hash(sf_dir)) % 10**8}",
    )
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy(
        "event_type", F.pmod(F.col("user_id"), F.lit(100)).alias("user_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("event_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("id_digest"),
    )


_SEVO_ROWS_V1 = 900
_SEVO_ROWS_V2 = 600


@MISC.register(
    "parquet_schema_merge_roundtrip",
    oracle=f"""
    WITH v1 AS (
      SELECT i AS id, (i * 7) % 101 AS a, CAST(NULL AS BIGINT) AS b,
             'v1' AS batch
      FROM (SELECT unnest(range(0, {_SEVO_ROWS_V1})) AS i)
    ), v2 AS (
      SELECT i + {_SEVO_ROWS_V1} AS id, (i * 11) % 101 AS a,
             (i * 13) % 97 AS b, 'v2' AS batch
      FROM (SELECT unnest(range(0, {_SEVO_ROWS_V2})) AS i)
    ), unioned AS (
      SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT batch,
           COUNT(*) AS n_rows,
           CAST(SUM(a) AS BIGINT) AS sum_a,
           CAST(COALESCE(SUM(b), 0) AS BIGINT) AS sum_b,
           COUNT(b) AS n_b_present
    FROM unioned GROUP BY batch
    """,
)
def parquet_schema_merge_roundtrip(spark, sf_dir):
    """Schema-evolution round trip: two parquet batches written under one
    dataset root with DIFFERENT schemas (batch v2 adds column ``b``), read
    back with ``mergeSchema`` so old files surface the new column as NULL
    — the additive-evolution contract every long-lived ingestion dataset
    depends on (day-1 files must stay readable after day-400 adds a
    column). The oracle recomputes the expected aggregates arithmetically
    from the fixture formulas, so the hash match proves values, NULL
    back-fill, and per-batch attribution all survived.

    Scale: mergeSchema reconciles footers at planning time (cost scales
    with file count, not data); production datasets pin the merged schema
    in a catalog instead of re-inferring per read — mirrored here by the
    explicit read schema being the only inference input. Writes shuffle
    nothing.
    """
    out = os.path.join(
        tempfile.gettempdir(),
        f"d2p_schema_evo_{abs(hash(sf_dir)) % 10**8}",
    )
    v1 = spark.range(_SEVO_ROWS_V1).select(
        F.col("id"),
        ((F.col("id") * 7) % 101).alias("a"),
        F.lit("v1").alias("batch"),
    )
    v2 = spark.range(_SEVO_ROWS_V2).select(
        (F.col("id") + _SEVO_ROWS_V1).alias("id"),
        ((F.col("id") * 11) % 101).alias("a"),
        ((F.col("id") * 13) % 97).alias("b"),
        F.lit("v2").alias("batch"),
    )
    v1.write.mode("overwrite").parquet(f"{out}/b=1")
    v2.write.mode("overwrite").parquet(f"{out}/b=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/b=1", f"{out}/b=2"
    )
    return back.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("a").alias("sum_a"),
        F.coalesce(F.sum("b"), F.lit(0)).alias("sum_b"),
        F.count("b").alias("n_b_present"),
    )
