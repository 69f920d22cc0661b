"""End-to-end tests for the Excel source against FIXTURES.md F1-F5/F7."""

from __future__ import annotations

import asyncio
import os

import pytest

from data_to_parquet_spark import (
    DataToParquetError,
    convert,
    convert_to_parquet,
    read_excel,
)
from data_to_parquet_spark.sources.excel import open_workbook, scan_sheet

from .xlsx_fixture import write_xlsx


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_f1_basic_mixed_types(spark, tmp_path):
    path = str(tmp_path / "f1.xlsx")
    write_xlsx(
        path,
        {
            "Sheet1": [
                ["id", "amount", "name", "active", "when_iso", "err"],
                [1, 1.5, "alice", True, ("iso", "2024-01-15T10:30:00"), ("error", "#DIV/0!")],
                [2, 0.30000000000000004, "bob 哈", False, ("iso", "2024-02-01T00:00:00"), ("error", "#N/A")],
            ]
        },
    )
    df = read_excel(spark, path)
    assert df.columns == ["id", "amount", "name", "active", "when_iso", "err"]
    assert all(t == "string" for _, t in df.dtypes)
    assert sorted(_rows(df)) == [
        ("1", "1.5", "alice", "true", "2024-01-15T10:30:00", "Div0"),
        ("2", "0.30000000000000004", "bob 哈", "false", "2024-02-01T00:00:00", "NA"),
    ]


def test_f2_hostile_headers(spark, tmp_path):
    path = str(tmp_path / "f2.xlsx")
    write_xlsx(
        path,
        {
            "Sheet1": [
                [("empty",), "x", "x", "x", ("empty",), "y"],
                ["a", "b", "c", "d", "e", "f"],
            ]
        },
    )
    df = read_excel(spark, path)
    assert df.columns == ["Field_0", "x", "x_2", "x_3", "Field_4", "y"]
    assert _rows(df) == [("a", "b", "c", "d", "e", "f")]


def test_f3_null_vs_empty_string(spark, tmp_path):
    path = str(tmp_path / "f3.xlsx")
    write_xlsx(
        path,
        {
            "Sheet1": [
                ["a", "b", "c", "d"],
                ["r1", None, ("empty",), None],
                ["r2", "x", ("empty",), None],
                # trailing cell beyond the declared dimension width must be
                # dropped (src/lib.rs:424-425) — declare a stale 4-wide box
                ["r3", None, ("empty",), "z", "beyond"],
            ]
        },
        dimension_override="A1:D4",
    )
    df = read_excel(spark, path)
    assert df.columns == ["a", "b", "c", "d"]
    got = sorted(_rows(df))
    assert got == [
        ("r1", None, "", None),
        ("r2", "x", "", None),
        ("r3", None, "", "z"),
    ]


def test_f4_skip_rows(spark, tmp_path):
    path = str(tmp_path / "f4.xlsx")
    write_xlsx(
        path,
        {
            "Sheet1": [
                ["junk title", None],
                ["junk note", None],
                ["junk more", None],
                ["col1", "col2"],
                ["v1", "v2"],
            ]
        },
    )
    df = read_excel(spark, path, skip_rows=3)
    assert df.columns == ["col1", "col2"]
    assert _rows(df) == [("v1", "v2")]


def test_f5_sheet_selection(spark, tmp_path):
    path = str(tmp_path / "f5.xlsx")
    write_xlsx(
        path,
        {
            "Summary": [["s"], ["sum1"]],
            "Data": [["d"], ["dat1"], ["dat2"]],
            "Archive": [["ar"], ["arc1"]],
        },
    )
    assert read_excel(spark, path).columns == ["s"]  # default = first
    assert _rows(read_excel(spark, path, sheet_name="Data")) == [("dat1",), ("dat2",)]
    assert _rows(read_excel(spark, path, sheet_index=2)) == [("arc1",)]
    with pytest.raises(DataToParquetError, match="out of bounds"):
        read_excel(spark, path, sheet_index=9)
    with pytest.raises(DataToParquetError, match="not found"):
        read_excel(spark, path, sheet_name="Nope")


def test_f7_unsupported_extension(spark, tmp_path):
    path = str(tmp_path / "input.csv")
    open(path, "w").write("a,b\n1,2\n")
    with pytest.raises(DataToParquetError, match="Unsupported file extension"):
        read_excel(spark, path)


def test_shared_strings_path(spark, tmp_path):
    path = str(tmp_path / "sst.xlsx")
    write_xlsx(
        path,
        {"Sheet1": [["name", "dup"], ["same", "same"], ["other", "same"]]},
        shared_strings=True,
    )
    assert sorted(_rows(read_excel(spark, path))) == [
        ("other", "same"),
        ("same", "same"),
    ]


def test_nonzero_origin(spark, tmp_path):
    # sheet starting at C5: dimension-driven geometry (src/lib.rs:160-162)
    path = str(tmp_path / "origin.xlsx")
    write_xlsx(
        path,
        {"Sheet1": [["h1", "h2"], ["a", "b"]]},
        start_row=4,
        start_col=2,
    )
    df = read_excel(spark, path)
    assert df.columns == ["h1", "h2"]
    assert _rows(df) == [("a", "b")]


def test_batch_boundaries_and_scan_counts(tmp_path):
    path = str(tmp_path / "many.xlsx")
    n = 12_000
    rows = [["id", "val"]] + [[i, f"v{i}"] for i in range(n)]
    write_xlsx(path, {"Sheet1": rows})
    with open_workbook(path) as wb:
        headers, batches = scan_sheet(wb, wb.resolve_sheet(), batch_size=5000)
        sizes = [len(b) for b in batches]
    assert headers == ["id", "val"]
    assert sum(sizes) == n
    assert all(s <= 5000 for s in sizes)


def test_multi_file_read(spark, tmp_path):
    paths = []
    for i in range(3):
        p = str(tmp_path / f"part{i}.xlsx")
        write_xlsx(p, {"S": [["k", "v"], [i, f"file{i}"]]})
        paths.append(p)
    df = read_excel(spark, paths)
    assert df.rdd.getNumPartitions() == 3  # one task per file
    assert sorted(_rows(df)) == [
        ("0", "file0"),
        ("1", "file1"),
        ("2", "file2"),
    ]


def test_convert_single_file_and_roundtrip(spark, tmp_path):
    src = str(tmp_path / "conv.xlsx")
    out = str(tmp_path / "conv.parquet")
    write_xlsx(src, {"Sheet1": [["a", "b"], [1, 2.5], [3, True]]})
    n = convert(src, out, spark=spark)
    assert n == 2
    assert os.path.isfile(out)
    back = spark.read.parquet(out)
    assert sorted(_rows(back)) == [("1", "2.5"), ("3", "true")]


def test_async_api(spark, tmp_path):
    src = str(tmp_path / "async.xlsx")
    out = str(tmp_path / "async.parquet")
    write_xlsx(src, {"Sheet1": [["x"], ["1"]]})
    n = asyncio.run(convert_to_parquet(src, out, spark=spark))
    assert n == 1


def test_cli(spark, tmp_path):
    from data_to_parquet_spark.cli import main

    src = str(tmp_path / "cli.xlsx")
    out = str(tmp_path / "cli.parquet")
    write_xlsx(src, {"Sheet1": [["x"], ["1"]]})
    assert main(["-i", src, "-o", out]) == 0
    assert main(["-i", str(tmp_path / "nope.csv"), "-o", out]) == 1


def test_glob_and_directory_read(spark, tmp_path):
    for i in range(3):
        write_xlsx(str(tmp_path / f"g{i}.xlsx"), {"S": [["k"], [i]]})
    by_glob = read_excel(spark, str(tmp_path / "g*.xlsx"))
    assert sorted(_rows(by_glob)) == [("0",), ("1",), ("2",)]
    by_dir = read_excel(spark, str(tmp_path))
    assert sorted(_rows(by_dir)) == [("0",), ("1",), ("2",)]


def test_single_file_order_preservation(spark, tmp_path):
    """O11 analog: single-file conversion preserves sheet row order."""
    src = str(tmp_path / "ordered.xlsx")
    out = str(tmp_path / "ordered.parquet")
    n = 1000
    write_xlsx(src, {"S": [["seq"]] + [[i] for i in range(n)]})
    convert(src, out, spark=spark)
    seqs = [int(r["seq"]) for r in spark.read.parquet(out).collect()]
    assert seqs == list(range(n))


def test_row_group_size_matches_batch_size(spark, tmp_path):
    """O12 parity: the reference writer sets ``max_row_group_size =
    batch_size`` (src/lib.rs:281-282), so every row group holds exactly
    ``batch_size`` rows with one partial trailer — regardless of how
    Spark's tasks split the rows across part files pre-merge."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "grouped.xlsx")
    out = str(tmp_path / "grouped.parquet")
    n = 2345
    write_xlsx(src, {"S": [["seq"]] + [[i] for i in range(n)]})
    convert(src, out, batch_size=1000, spark=spark)
    md = pq.ParquetFile(out).metadata
    sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    assert sizes == [1000, 1000, 345]
    seqs = [int(r["seq"]) for r in spark.read.parquet(out).collect()]
    assert seqs == list(range(n))


def test_row_group_regroup_single_part(spark, tmp_path):
    """row_group_rows must re-group even when the write produced ONE part
    file (the move fast-path may not skip the sizing contract)."""
    import pyarrow.parquet as pq

    from data_to_parquet_spark.sinks.parquet import to_single_parquet_file

    out = str(tmp_path / "one_part.parquet")
    df = spark.range(250).coalesce(1)
    to_single_parquet_file(df, out, row_group_rows=100)
    md = pq.ParquetFile(out).metadata
    sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    assert sizes == [100, 100, 50]
    assert [r["id"] for r in spark.read.parquet(out).collect()] == list(
        range(250)
    )


@pytest.mark.parametrize(
    ("n", "batch", "parts"),
    [
        (5, 10, 3),      # n < batch: one partial group, empty partitions
        (10, 10, 2),     # n == batch exactly: one full group, no trailer
        (30, 10, 4),     # n == k*batch: all-full groups, no trailer
        (7, 1, 2),       # batch=1: one group per row
        (23, 10, 1),     # single part still re-grouped
    ],
)
def test_row_group_regroup_edge_shapes(spark, tmp_path, n, batch, parts):
    """Exact row-group sizing must hold for every split of rows across
    part files: groups of exactly ``batch`` rows, one partial trailer iff
    batch does not divide n, order preserved."""
    import pyarrow.parquet as pq

    from data_to_parquet_spark.sinks.parquet import to_single_parquet_file

    out = str(tmp_path / f"rg_{n}_{batch}_{parts}.parquet")
    df = spark.range(n).repartition(parts)
    to_single_parquet_file(df, out, row_group_rows=batch)
    md = pq.ParquetFile(out).metadata
    sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    expect = [batch] * (n // batch) + ([n % batch] if n % batch else [])
    assert sizes == expect
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(n))


@pytest.mark.parametrize("bad", [0, -1])
def test_row_group_rows_must_be_positive(spark, tmp_path, bad):
    """ADVICE r7 regression pin: row_group_rows<=0 used to spin the
    re-group loop forever writing zero-row slices; convert(batch_size=0)
    would hang. Must raise DataToParquetError up front instead."""
    from data_to_parquet_spark.errors import DataToParquetError
    from data_to_parquet_spark.sinks.parquet import to_single_parquet_file

    out = str(tmp_path / "bad_rg.parquet")
    with pytest.raises(DataToParquetError, match="row_group_rows"):
        to_single_parquet_file(spark.range(10), out, row_group_rows=bad)


def test_split_path_equivalence(spark, tmp_path, monkeypatch):
    """The large-file XML-split path must produce exactly the streaming
    path's output (incl. null-vs-empty and width truncation)."""
    from data_to_parquet_spark.sources import excel as excel_mod

    path = str(tmp_path / "split_eq.xlsx")
    rows = [["a", "b", "c"]]
    for i in range(5000):
        rows.append(
            [i, None if i % 3 == 0 else f"v{i}", ("empty",) if i % 5 == 0 else i * 1.5]
        )
    write_xlsx(path, {"S": rows})

    streamed = sorted(_rows(read_excel(spark, path)))
    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10_000)
    split_df = read_excel(spark, path)
    assert split_df.rdd.getNumPartitions() > 1  # split path engaged
    assert sorted(_rows(split_df)) == streamed


def test_split_path_order_preservation(spark, tmp_path, monkeypatch):
    from data_to_parquet_spark.sources import excel as excel_mod

    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10_000)
    src = str(tmp_path / "big_ordered.xlsx")
    out = str(tmp_path / "big_ordered.parquet")
    n = 5000
    write_xlsx(src, {"S": [["seq"]] + [[i] for i in range(n)]})
    convert(src, out, spark=spark)
    seqs = [int(r["seq"]) for r in spark.read.parquet(out).collect()]
    assert seqs == list(range(n))


def _rewrite_sheet(path: str, rewrite) -> None:
    import zipfile

    with zipfile.ZipFile(path) as z:
        parts = {i.filename: z.read(i.filename) for i in z.infolist()}
    member = "xl/worksheets/sheet1.xml"
    parts[member] = rewrite(parts[member].decode()).encode()
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in parts.items():
            z.writestr(name, data)


@pytest.mark.parametrize("ineligible_by", ["extLst", "comments"])
def test_split_path_excel_written_prefixes(
    spark, tmp_path, monkeypatch, ineligible_by
):
    """Excel declares x14ac/mc on <worksheet> and uses them on every row;
    a trailing <extLst> (or comments between rows) takes the sheet off the
    find-based tier. Split ranges must still resolve those prefixes and
    read exactly what the streaming path reads (once: ParseError 'unbound
    prefix' on the ElementTree fallback)."""
    import re

    from data_to_parquet_spark.sources import excel as excel_mod

    path = str(tmp_path / "excel_written.xlsx")
    n = 3000
    write_xlsx(
        path,
        {"S": [["id", "name", "v"]] + [[i, f"n{i}", i * 0.5] for i in range(n)]},
    )

    def excelify(xml: str) -> str:
        xml = xml.replace(
            "<worksheet ",
            '<worksheet xmlns:mc="http://schemas.openxmlformats.org/'
            'markup-compatibility/2006" xmlns:x14ac="http://schemas.'
            'microsoft.com/office/spreadsheetml/2009/9/ac" '
            'mc:Ignorable="x14ac" ',
        )
        xml = re.sub(
            r'<row r="(\d+)">',
            r'<row r="\1" spans="1:3" x14ac:dyDescent="0.25">',
            xml,
        )
        if ineligible_by == "extLst":
            return xml.replace(
                "</worksheet>",
                '<extLst><ext uri="{78C0D931-6437-407d-A8EE-F0AAD7539E65}">'
                "</ext></extLst></worksheet>",
            )
        return re.sub(r'(<row r="\d*00" )', r"<!-- page -->\1", xml)

    _rewrite_sheet(path, excelify)
    streamed = _rows(read_excel(spark, path))
    assert len(streamed) == n
    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10_000)
    split_df = read_excel(spark, path)
    assert split_df.rdd.getNumPartitions() > 1  # split path engaged
    assert _rows(split_df) == streamed


def test_split_path_leaves_no_temp_files(spark, tmp_path, monkeypatch):
    """A split-path convert must leave no file behind in the temp directory
    (a scratch copy of the inflated sheet there would outlive the
    conversion, one per large convert in a long-lived process)."""
    import tempfile

    from data_to_parquet_spark.sources import excel as excel_mod

    src = str(tmp_path / "no_scratch.xlsx")
    n = 5000
    write_xlsx(src, {"S": [["seq"]] + [[i] for i in range(n)]})
    # a streaming convert first, so one-time JVM temp files (native codec
    # libraries) already exist before the snapshot
    convert(src, str(tmp_path / "warm.parquet"), spark=spark)
    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10_000)
    assert read_excel(spark, src).rdd.getNumPartitions() > 1  # split path
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    assert convert(src, str(tmp_path / "split.parquet"), spark=spark) == n
    left = [
        name
        for name in set(os.listdir(tmp)) - before
        if os.path.isfile(os.path.join(tmp, name))
    ]
    assert left == []


def _split_vs_stream(path, monkeypatch):
    """(rows per range, streamed rows): ``_split_spans(8, …)`` read range
    by range with ``read_workbook``, and one streaming read."""
    from data_to_parquet_spark.sources import excel as excel_mod

    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10_000)
    names = excel_mod.infer_schema(path).fieldNames()

    def read(span):
        batches = excel_mod.read_workbook(path, None, None, 0, 1000, names, span)
        return [tuple(r.values()) for b in batches for r in b.to_pylist()]

    spans = excel_mod._split_spans(8, path, None, None, 0, None)
    assert spans is not None and len(spans) > 1  # split path engaged
    return [read(span) for span in spans], read(None)


def test_split_range_inside_one_long_row(tmp_path, monkeypatch):
    """A row longer than a whole range: the ranges it covers have no
    aligned start and yield nothing; no row is lost or read twice."""
    path = str(tmp_path / "long_row.xlsx")
    rows = [["id", "text"]] + [[i, f"t{i}"] for i in range(2000)]
    rows[1000][1] = "x" * 200_000
    write_xlsx(path, {"S": rows})
    parts, streamed = _split_vs_stream(path, monkeypatch)
    assert [] in parts
    assert [r for part in parts for r in part] == streamed
    assert len(streamed) == 2000


def test_split_ranges_with_rows_without_r(tmp_path, monkeypatch):
    """Rows written without ``r=`` after the first range, as a bare
    ``<row>`` or with other attributes, stay with the range before them
    and are numbered as when streaming."""
    import re

    def drop_r(m):
        r = int(m.group(1))
        if r < 400 or r % 2:
            return m.group(0)
        return "<row>" if r % 4 == 0 else '<row spans="1:2">'

    path = str(tmp_path / "no_r.xlsx")
    write_xlsx(path, {"S": [["id", "v"]] + [[i, i * 3] for i in range(3000)]})
    _rewrite_sheet(path, lambda xml: re.sub(r'<row r="(\d+)">', drop_r, xml))
    parts, streamed = _split_vs_stream(path, monkeypatch)
    assert [r for part in parts for r in part] == streamed
    assert streamed == [(str(i), str(i * 3)) for i in range(3000)]


def test_split_ranges_with_r_not_first(tmp_path, monkeypatch):
    """``<row spans=… r=…>`` rows are no range starts: they stay with the
    range before them."""
    import re

    path = str(tmp_path / "spans_first.xlsx")
    write_xlsx(path, {"S": [["id", "v"]] + [[i, f"v{i}"] for i in range(3000)]})
    _rewrite_sheet(
        path,
        lambda xml: re.sub(
            r'<row r="(\d+)">',
            lambda m: m.group(0)
            if int(m.group(1)) % 3 == 0
            else f'<row spans="1:2" r="{m.group(1)}">',
            xml,
        ),
    )
    parts, streamed = _split_vs_stream(path, monkeypatch)
    assert [r for part in parts for r in part] == streamed
    assert streamed == [(str(i), f"v{i}") for i in range(3000)]


def test_read_excel_runs_one_python_stage(spark, tmp_path, monkeypatch):
    """A split read and a multi-file read each run ONE Python stage (no
    task-list scan feeding it) with one task per range or file."""
    from data_to_parquet_spark.sources import excel as excel_mod

    big = str(tmp_path / "big.xlsx")
    write_xlsx(big, {"S": [["a", "b"]] + [[i, i * 2] for i in range(3000)]})
    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10_000)
    spans = excel_mod._split_spans(
        spark.sparkContext.defaultParallelism, big, None, None, 0, None
    )
    split_df = read_excel(spark, big)
    files = []
    for k in range(3):
        files.append(str(tmp_path / f"f{k}.xlsx"))
        write_xlsx(files[-1], {"S": [["a", "b"], [k, k + 1]]})
    fleet_df = read_excel(spark, files)

    for df, n in ((split_df, len(spans)), (fleet_df, 3)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, plan
        assert "ExistingRDD" not in plan, plan
        assert df.rdd.getNumPartitions() == n
    assert split_df.count() == 3000
    assert sorted(_rows(fleet_df)) == [("0", "1"), ("1", "2"), ("2", "3")]


def test_duplicate_header_names_survive(spark, tmp_path):
    """`a, a_2, a` -> columns [a, a_2, a_2] (reference naming collision) —
    values must stay positionally aligned, not collapse."""
    path = str(tmp_path / "dupcols.xlsx")
    write_xlsx(path, {"S": [["a", "a_2", "a"], ["v1", "v2", "v3"]]})
    df = read_excel(spark, path)
    assert df.columns == ["a", "a_2", "a_2"]
    assert _rows(df) == [("v1", "v2", "v3")]


def test_noncanonical_and_huge_numbers(spark, tmp_path):
    """'007' renormalizes via i64 parse; >i64 digits fall back to f64 (both
    matching calamine's i64-then-f64 parse order)."""
    import zipfile

    path = str(tmp_path / "nums.xlsx")
    write_xlsx(path, {"S": [["n"], [1]]})
    # patch the sheet XML to carry raw numeric texts the writer won't emit
    with zipfile.ZipFile(path) as z:
        names = {i.filename: z.read(i.filename) for i in z.infolist()}
    sheet = names["xl/worksheets/sheet1.xml"].decode()
    sheet = sheet.replace(
        '<c r="A2"><v>1</v></c>',
        '<c r="A2"><v>007</v></c>',
    ).replace('<dimension ref="A1:A2"/>', '<dimension ref="A1:A3"/>')
    sheet = sheet.replace(
        "</sheetData>",
        '<row r="3"><c r="A3"><v>99999999999999999999</v></c></row></sheetData>',
    )
    names["xl/worksheets/sheet1.xml"] = sheet.encode()
    with zipfile.ZipFile(path, "w") as z:
        for n, b in names.items():
            z.writestr(n, b)
    got = sorted(_rows(read_excel(spark, path)))
    assert got == [("100000000000000000000",), ("7",)]


def test_mismatched_multi_file_headers_rejected(spark, tmp_path):
    p1 = str(tmp_path / "m1.xlsx")
    p2 = str(tmp_path / "m2.xlsx")
    write_xlsx(p1, {"S": [["id", "amount", "name"], [1, 2, "x"]]})
    write_xlsx(p2, {"S": [["name", "id", "amount"], ["y", 3, 4]]})
    df = read_excel(spark, [p1, p2])
    with pytest.raises(Exception, match="does not match"):
        df.collect()


def test_fast_and_et_walkers_agree(tmp_path):
    """Every decoder tier must emit the ElementTree walker's stream exactly
    (the fast tiers are only ever an optimization): the find-based walker
    with its strict per-row tier, and with the strict tier refusing every
    row, on machine-written and Excel-written cell forms."""
    import io
    from unittest import mock

    from data_to_parquet_spark.sources.xlsx import (
        XlsxWorkbook,
        _fast_path_eligible,
        walk_rows,
        walk_rows_fast,
    )

    from .xlsx_fixture import write_xlsx

    path = str(tmp_path / "walkers.xlsx")
    rows = [
        ["id", "v", "", "note"],
        [1, 2.5, True, "a&b <c> \"quoted\""],
        [None, "", -0.0, "x"],
        [3, 10**19, False, None],
        [4, ("error", "#DIV/0!"), ("iso", "2024-01-02T03:04:05"), ("formula_str", "=SUM")],
        # Excel-written forms: s= styled numbers, <f> before <v>,
        # entity-escaped <v>/<t> text, multi-run rich text
        [("date_serial", 45292.5), ("formula", "SUM(A2:A3)", 6),
         ("formula", 'A1&"<x>"', "a&b <c>"), ("rich", ["bold", " & plain <x>"])],
        [("date_serial", 45292), ("error", "#N/A"), ("shared", "s&<>\"'"),
         ("formula_str", "x&amp;y")],
        [("rich", ["", "only styled"]), ("formula", "NOW()", 45292.25),
         ("formula", "A1", ""), ("rich", ["a", "b", "c"])],
    ]
    write_xlsx(path, {"Data": rows})
    with XlsxWorkbook(path) as wb:
        sheet = wb.resolve_sheet("Data", None)
        member = dict(wb._sheet_targets)[sheet]
        data = wb._zip.read(member)
        sst = wb._shared_strings()
        assert _fast_path_eligible(data)
        fast = list(walk_rows_fast(data, sst))
        with mock.patch(
            "data_to_parquet_spark.sources.xlsx._decode_strict_cells",
            return_value=None,
        ):
            find_only = list(walk_rows_fast(data, sst))
        et = list(walk_rows(io.BytesIO(data), sst))
    assert fast == find_only == et
    assert len(fast) == 8
    assert et[5][1] == [(0, "45292.5"), (1, "6"), (2, "a&b <c>"),
                        (3, "bold & plain <x>")]


def test_date_styled_serial_cells_emit_raw_serial(spark, tmp_path):
    """Reference parity for date-STYLED numeric cells (src/lib.rs:394).

    The reference builds calamine 0.32 with default features only
    (Cargo.toml has no feature list), so the chrono-backed `dates` feature
    is off and `ExcelDateTime`'s Display can only print the raw serial
    f64 — `cell_to_string` therefore emits "45292.5", not a rendered
    date. A numeric cell whose style (s= -> cellXfs -> numFmtId 14) marks
    it as a date must come through as its serial string; ISO t="d" cells
    stay verbatim text.
    """
    path = str(tmp_path / "styled.xlsx")
    write_xlsx(
        path,
        {
            "Sheet1": [
                ["when_styled", "midnight", "when_iso"],
                [
                    ("date_serial", 45292.5),
                    ("date_serial", 45292),
                    ("iso", "2024-01-01T12:00:00"),
                ],
            ]
        },
    )
    df = read_excel(spark, path)
    assert _rows(df) == [("45292.5", "45292", "2024-01-01T12:00:00")]


def test_all_dataref_stringify_arms_one_workbook(spark, tmp_path):
    """One workbook exercising every calamine ``DataRef`` stringify arm the
    reference's ``cell_to_string`` handles (/root/reference/src/lib.rs:388-399):
    Int, Float, String (inline + formula t="str"), SharedString, Bool,
    DateTime (date-styled serial, emitted raw without the `dates` feature),
    DateTimeIso, DurationIso, Error, Empty — plus the absent-cell NULL
    distinction."""
    path = str(tmp_path / "arms.xlsx")
    write_xlsx(
        path,
        {
            "Arms": [
                [
                    "c_int", "c_float", "c_inline", "c_shared", "c_formula",
                    "c_bool", "c_serial", "c_iso_dt", "c_iso_dur", "c_err",
                    "c_empty", "c_absent",
                ],
                [
                    42,
                    0.30000000000000004,
                    "inline 哈",
                    ("shared", "shared twice"),
                    ("formula_str", "computed"),
                    True,
                    ("date_serial", 45678.5),
                    ("iso", "2024-03-01T12:00:00"),
                    ("iso", "PT1H30M"),
                    ("error", "#VALUE!"),
                    ("empty",),
                    None,
                ],
                [
                    -7,
                    1e300,
                    "",
                    ("shared", "shared twice"),
                    ("formula_str", ""),
                    False,
                    ("date_serial", 1.0),
                    ("iso", "1999-12-31"),
                    ("iso", "P1DT2S"),
                    ("error", "#REF!"),
                    ("empty",),
                    None,
                ],
            ]
        },
    )
    df = read_excel(spark, path)
    assert all(t == "string" for _, t in df.dtypes)
    got = sorted(_rows(df))
    assert got == [
        (
            # Rust Display never uses scientific notation: 1e300 expands
            "-7", "1" + "0" * 300, "", "shared twice", "", "false", "1",
            "1999-12-31", "P1DT2S", "Ref", "", None,
        ),
        (
            "42", "0.30000000000000004", "inline 哈", "shared twice",
            "computed", "true", "45678.5", "2024-03-01T12:00:00", "PT1H30M",
            "Value", "", None,
        ),
    ]


# ---- multi-sheet union source (round 9) ----


def test_multisheet_union_xlsx(spark, tmp_path):
    from data_to_parquet_spark.sources.excel import read_excel_all_sheets

    path = str(tmp_path / "multi.xlsx")
    write_xlsx(
        path,
        {
            "one": [["a", "b"], [1, 2], [3, 4]],
            "two": [["a", "c"], [5, "x"]],
        },
    )
    df = read_excel_all_sheets(spark, path)
    # first sheet's columns, then the tag, then later sheets' new columns
    assert df.columns == ["a", "b", "_sheet", "c"]
    got = sorted(_rows(df.select("a", "b", "c", "_sheet")))
    assert got == [
        ("1", "2", None, "one"),
        ("3", "4", None, "one"),
        ("5", None, "x", "two"),
    ]


def test_multisheet_union_query_writes_its_fixture_once(spark, sf_dir):
    """The registry query's fixture is deterministic: repeated calls in one
    process reuse one temp directory instead of leaving one per call."""
    import glob
    import tempfile

    from data_to_parquet_spark.operators import misc

    misc._multisheet_fixture.cache_clear()
    pattern = os.path.join(tempfile.gettempdir(), "d2p_multisheet_*")
    before = set(glob.glob(pattern))
    first = _rows(misc.excel_multisheet_union(spark, sf_dir))
    second = _rows(misc.excel_multisheet_union(spark, sf_dir))
    assert len(set(glob.glob(pattern)) - before) == 1
    assert first == second and len(first) == 90


def test_multisheet_union_xlsb(spark, tmp_path):
    from data_to_parquet_spark.sources.excel import read_excel_all_sheets

    from .xlsb_fixture import write_xlsb

    path = str(tmp_path / "multi.xlsb")
    write_xlsb(
        path,
        {
            "s1": [["k", "v"], [1, 10]],
            "s2": [["k", "w"], [2, 20]],
        },
    )
    df = read_excel_all_sheets(spark, path)
    got = sorted(_rows(df.select("k", "v", "w", "_sheet")))
    assert got == [("1", "10", None, "s1"), ("2", None, "20", "s2")]


def test_multisheet_custom_tag_column(spark, tmp_path):
    from data_to_parquet_spark.sources.excel import read_excel_all_sheets

    path = str(tmp_path / "single.xlsx")
    write_xlsx(path, {"only": [["x"], [7]]})
    df = read_excel_all_sheets(spark, path, sheet_column="src_sheet")
    assert _rows(df) == [("7", "only")]
    assert df.columns == ["x", "src_sheet"]


def test_multisheet_rejects_tag_collision_and_dup_headers(spark, tmp_path):
    from data_to_parquet_spark.sources.excel import read_excel_all_sheets

    collide = str(tmp_path / "collide.xlsx")
    write_xlsx(collide, {"s": [["a", "_sheet"], [1, 2]]})
    with pytest.raises(DataToParquetError, match="_sheet"):
        read_excel_all_sheets(spark, collide)
    # a different tag column makes the same workbook readable
    df = read_excel_all_sheets(spark, collide, sheet_column="origin")
    assert _rows(df) == [("1", "2", "s")]

    # the reference naming rules usually dedupe ('a, a' -> 'a, a_2'), but
    # the documented 'a, a_2, a' edge collides to 'a, a_2, a_2' —
    # read_excel reads it positionally; a by-name union must refuse
    dup = str(tmp_path / "dup.xlsx")
    write_xlsx(dup, {"s": [["a", "a_2", "a"], [1, 2, 3]]})
    assert read_excel(spark, dup).columns == ["a", "a_2", "a_2"]
    with pytest.raises(DataToParquetError, match="duplicate header"):
        read_excel_all_sheets(spark, dup)


def test_caller_schema_validated_on_split_path(spark, tmp_path, monkeypatch):
    """r9 review: the split path never sees the header row, so a
    caller-passed schema must be validated driver-side there too — a
    stale schema must raise, not silently mislabel columns."""
    from pyspark.sql import types as T

    from data_to_parquet_spark.sources import excel as excel_mod

    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10_000)
    path = str(tmp_path / "schema_split.xlsx")
    write_xlsx(path, {"S": [["a", "b"]] + [[i, i * 2] for i in range(3000)]})

    good = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in ("a", "b")]
    )
    df = read_excel(spark, path, schema=good)
    assert df.rdd.getNumPartitions() > 1  # split path engaged
    assert df.columns == ["a", "b"] and df.count() == 3000

    stale = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in ("x", "y")]
    )
    with pytest.raises(DataToParquetError, match="does not match"):
        read_excel(spark, path, schema=stale)
    # and the streaming path rejects the same stale schema at task time —
    # match on the distinctive message so an unrelated failure can't
    # satisfy the assertion (the task-side DataToParquetError surfaces
    # wrapped in Spark's Python-worker exception)
    monkeypatch.setattr(excel_mod, "SPLIT_THRESHOLD_BYTES", 10**9)
    with pytest.raises(Exception, match="does not match"):
        read_excel(spark, path, schema=stale).count()
