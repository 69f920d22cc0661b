"""Excel → DataFrame source: the engine's replacement for the reference's
fixed pipeline (``src/lib.rs:30-65``), re-expressed Spark-first.

Design (SURVEY.md §3.3 "Spark lifecycle"):

* a driver-side task list (one entry per workbook, or per nominal byte
  range of one large sheet, planned without reading sheet data) becomes one
  Spark task per entry: ``spark.range(n)`` in ``n`` slices feeds task ``i``
  its entry — parallelism across files/executors replaces the reference's 8
  hard-coded worker threads (``src/lib.rs:169,237``);
* inside each task, one ``mapInArrow`` Python stage runs
  :func:`read_workbook`, the one task reader: :func:`scan_sheet` yields
  ``batch_size``-row Arrow batches, replacing the reference's hand-rolled
  RecordBatch pivot (``src/lib.rs:403-439``). A machine-written .xlsx
  buffer goes from cells straight to Arrow columns in the columnar tier
  (``xlsx.ColumnarRows``, ``pyarrow.compute`` doing the per-cell work);
  the row walkers of :mod:`.xlsx` and :mod:`.xlsb` are densified by
  :func:`_dense_batches`. The ``excel``
  DataSource (:mod:`.datasource`) runs the same reader per partition;
* the output schema is inferred on the driver from the FIRST file's header row
  using the exact reference naming rules (``build_headers``), and is all
  nullable strings (``src/lib.rs:229-234``).

Scale posture: at 100 TB (= millions of workbooks) the file list rides in
the pickled task command, which PySpark broadcasts once it exceeds 1 MiB;
schema inference touches only one file, and each task's memory is
bounded by its in-memory sheet buffer (a part up to the xlsx reader's
buffer limit, or one split range; larger parts stream one row at a time)
plus the shared-string table of its own file. Data is never materialized
outside the tasks.
"""

from __future__ import annotations

import glob
import itertools
import os
import struct
from typing import Iterator
from xml.etree.ElementTree import ParseError

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..errors import DataToParquetError
from ..kernels import build_headers
from .xlsx import ColumnarRows, XlsxWorkbook

__all__ = [
    "read_excel",
    "read_excel_all_sheets",
    "read_workbook",
    "scan_sheet",
    "open_workbook",
    "DEFAULT_BATCH_SIZE",
]

DEFAULT_BATCH_SIZE = 5000  # reference default: src/main.rs:31-32

# single .xlsx files whose sheet XML exceeds this are split across tasks
SPLIT_THRESHOLD_BYTES = 4 * 1024 * 1024


def open_workbook(path: str):
    """Extension dispatch (reference O3, ``src/main.rs:50-62``)."""
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    if ext == "xlsx":
        return XlsxWorkbook(path)
    if ext == "xlsb":
        from .xlsb import XlsbWorkbook

        return XlsbWorkbook(path)
    raise DataToParquetError(
        f"Unsupported file extension: {ext!r} (expected xlsx or xlsb)"
    )


def expand_paths(paths: str | list[str]) -> list[str]:
    """Globs and directories (a directory means every workbook in it) to a
    sorted file list; a pattern or directory matching nothing is an error."""
    out: list[str] = []
    for p in [paths] if isinstance(paths, str) else paths:
        if os.path.isdir(p):
            found = sorted(
                glob.glob(os.path.join(p, "*.xlsx"))
                + glob.glob(os.path.join(p, "*.xlsb"))
            )
        elif any(ch in p for ch in "*?["):
            found = sorted(glob.glob(p))
        else:
            found = [p]
        if not found:
            raise DataToParquetError(f"no Excel files match {p!r}")
        out.extend(found)
    if not out:
        raise DataToParquetError("no input paths")
    return out


def uniquify(names: list[str]) -> list[str]:
    """``__dupN``-suffix the residual collisions of the reference naming
    rules (``a, a_2, a`` -> ``a, a_2, a_2``): Spark's Arrow leg needs
    unique column names."""
    seen: dict[str, int] = {}
    unique = []
    for name in names:
        k = seen.get(name, 0)
        seen[name] = k + 1
        unique.append(name if k == 0 else f"{name}__dup{k}")
    return unique


def string_schema(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


def _sheet_geometry(wb, sheet: str, skip_rows: int):
    """(start_col, num_cols, header_row_idx) from the declared dimension box
    (``src/lib.rs:160-162``); None fields if the sheet lacks a dimension
    element (then geometry is inferred from the header row itself)."""
    dims = wb.dimensions(sheet)
    if dims is None:
        return None, None, None
    (r0, c0), (_, c1) = dims
    return c0, c1 - c0 + 1, r0 + skip_rows


def _dense_batches(
    rows, start_col: int, num_cols: int, batch_size: int, names: list[str]
) -> Iterator[pa.RecordBatch]:
    """Sparse rows from a row walker -> ``batch_size``-row Arrow batches of
    nullable strings named ``names`` over the header's column span: absent
    cell → NULL, present-but-empty cell → ``""`` (``src/lib.rs:398`` vs
    ``:428-433``); cells beyond the header width are dropped
    (``src/lib.rs:424-425``). The columnar tier densifies its rows itself
    (``ColumnarRows.batches``) under the same rules."""

    def batch(dense_rows: list[list[str | None]]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [pa.array(col, type=pa.string()) for col in zip(*dense_rows)],
            names=names,
        )

    end_col = start_col + num_cols
    buf: list[list[str | None]] = []
    for _, cells in rows:
        dense: list[str | None] = [None] * num_cols
        for col, s in cells:
            if start_col <= col < end_col:
                dense[col - start_col] = s
        buf.append(dense)
        if len(buf) >= batch_size:
            yield batch(buf)
            buf = []
    if buf:
        yield batch(buf)


# what the decoders raise on a malformed part: ElementTree, the find-based
# cell split, Arrow and the xlsb record reader (a cut record is an
# EOFError; UnicodeDecodeError and ArrowInvalid are ValueErrors)
_MALFORMED = (ParseError, EOFError, struct.error, IndexError, ValueError)


def scan_sheet(
    wb,
    sheet: str,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    span: tuple[int, int, int] | None = None,
) -> tuple[list[str], Iterator[pa.RecordBatch]]:
    """Stream one sheet: returns (headers, iterator of Arrow batches of
    nullable strings named by the :func:`uniquify`-ed headers).

    Reproduces the reference's scan semantics end to end:

    * rows before ``header_row_idx = start_row + skip_rows`` are discarded
      (``src/lib.rs:162,206-223``);
    * the header row is stringified and run through ``build_headers``
      (``src/lib.rs:441-465``);
    * data rows are densified into batches of ``batch_size`` rows
      (``src/main.rs:31-32``): by the columnar tier when it proves the
      sheet buffer (``ColumnarRows.batches``), else by
      :func:`_dense_batches` from the row walkers.

    ``span`` restricts an .xlsx scan to one byte range of the sheet part
    (see ``XlsxWorkbook.sheet_rows``); a range past the header row
    yields placeholder headers, which the split path ignores.

    A sheet or shared-strings part that is not what its format says (a
    truncated one among them) raises ``DataToParquetError`` naming the
    file and the sheet, from the header phase or from the batches: every
    reader, on the driver and in the tasks, scans through here.
    """
    scan = _scan(wb, sheet, skip_rows, batch_size, span)
    return next(scan), scan


def _scan(wb, sheet, skip_rows, batch_size, span):
    """:func:`scan_sheet` as one generator: the headers, then the batches."""
    try:
        start_col, num_cols, header_row_idx = _sheet_geometry(wb, sheet, skip_rows)

        rows = wb.sheet_rows(sheet, span)
        columnar = isinstance(rows, ColumnarRows)
        # a columnar sheet walks its row indices; "cells" is the row's position
        stream = zip(map(int, rows.row_index), itertools.count()) if columnar else rows

        # --- header phase -------------------------------------------------
        header = pending = None
        for row, cells in stream:
            if header_row_idx is None:
                header_row_idx = row + skip_rows
            if row < header_row_idx:
                continue  # leading-row discard (O5)
            if row == header_row_idx:
                header = cells
                continue
            pending = (row, cells)
            break

        if header_row_idx is None:  # empty sheet
            yield []
            return

        if header is None:
            header_cells: dict[int, str] = {}
        else:
            header_cells = dict(rows.cells(header) if columnar else header)
        if start_col is None:
            # no dimension element: infer span from the header row extent
            if not header_cells:
                yield []
                return
            start_col = min(header_cells)
            num_cols = max(header_cells) - start_col + 1

        headers = build_headers(header_cells, num_cols, start_col)
        names = uniquify(headers)
        yield headers
        if columnar:
            first = len(rows) if pending is None else pending[1]
            yield from rows.batches(first, start_col, num_cols, batch_size, names)
        else:
            data = itertools.chain([pending] if pending else [], rows)
            yield from _dense_batches(data, start_col, num_cols, batch_size, names)
    except _MALFORMED as e:
        raise DataToParquetError(
            f"{wb.path!r}: sheet {sheet!r} is not well-formed: {e}"
        ) from e


def infer_schema(
    path: str,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
) -> T.StructType:
    """Driver-side schema inference: header row of one file only."""
    with open_workbook(path) as wb:
        sheet = wb.resolve_sheet(sheet_name, sheet_index)
        headers, _ = scan_sheet(wb, sheet, skip_rows, batch_size=1)
    if not headers:
        raise DataToParquetError(f"no header row found in {path!r}")
    return string_schema(headers)


def read_workbook(
    path: str,
    sheet_name: str | None,
    sheet_index: int | None,
    skip_rows: int,
    batch_size: int,
    names: list[str],
    span: tuple[int, int, int] | None = None,
) -> Iterator[pa.RecordBatch]:
    """The one task reader: one workbook (or one byte range of it) as Arrow
    batches of nullable strings named ``names``, positionally.

    A whole-workbook read first checks the file's header row against
    ``names`` (same-position columns must not be silently remapped); a
    byte-range read skips the check, which the split planner made once on
    the driver.

    A malformed sheet or shared-strings part raises
    ``DataToParquetError`` naming the file and the sheet (see
    :func:`scan_sheet`).
    """
    with open_workbook(path) as wb:
        sheet = wb.resolve_sheet(sheet_name, sheet_index)
        headers, batches = scan_sheet(wb, sheet, skip_rows, batch_size, span)
        rename = uniquify(headers) != names
        if span is None and rename:
            raise DataToParquetError(
                f"{path!r}: header row {headers} does not match the "
                f"schema {names}"
            )
        for batch in batches:
            # a byte range's placeholder headers take the schema's names
            yield (
                pa.RecordBatch.from_arrays(batch.columns, names=names)
                if rename
                else batch
            )


def read_excel(
    spark: SparkSession,
    paths: str | list[str],
    *,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read one or many Excel workbooks into a DataFrame of nullable strings.

    Equivalent surface to the reference CLI/API options
    (``src/main.rs:7-33``): sheet selection by name/index/default, leading-row
    skip, batch size. Multi-file reads require a shared schema (taken from the
    first file), mirroring "one conversion = one schema". Passing ``schema``
    (all nullable strings, names = expected header row) skips the driver-side
    inference open — callers that already parsed the workbook (e.g.
    :func:`read_excel_all_sheets`) avoid re-opening it; each file's actual
    header row is still validated against it.

    Duplicate header names (the reference's ``a, a_2, a`` collision) survive
    positionally: the Arrow leg runs on :func:`uniquify`-ed names and the
    duplicates are restored afterwards via ``toDF``.
    """
    paths = expand_paths(paths)
    for p in paths:
        open_workbook(p).close()  # validate extensions + readability up front

    caller_schema = schema is not None
    if schema is None:
        schema = infer_schema(paths[0], sheet_name, sheet_index, skip_rows)
    out_names = schema.fieldNames()
    names = uniquify(out_names)

    tasks = [(p, None) for p in paths]
    if len(paths) == 1 and paths[0].lower().endswith(".xlsx"):
        spans = _split_spans(
            spark.sparkContext.defaultParallelism,
            paths[0],
            sheet_name,
            sheet_index,
            skip_rows,
            # split ranges never see the header row, so a CALLER-passed
            # schema is validated once on the driver (without this a stale
            # schema silently mislabels columns — r9 review); an inferred
            # one was read from this very header row
            names if caller_schema else None,
        )
        if spans is not None:
            tasks = [(paths[0], span) for span in spans]

    def reader(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column(0).to_pylist():
                path, span = tasks[i]
                yield from read_workbook(
                    path, sheet_name, sheet_index, skip_rows, batch_size,
                    names, span,
                )

    # One task per file or byte range, in row order, and ONE Python stage:
    # task i of a range(n) with n slices reads tasks[i] from the reader's
    # closure (PySpark broadcasts a pickled command above 1 MiB, so a large
    # fleet's list is not shipped once per task). A task list fed in as
    # rows of a local collection would run a second Python worker call in
    # every task, ~0.25 s of worker setup CPU each.
    df = spark.range(0, len(tasks), 1, len(tasks)).mapInArrow(
        reader, string_schema(names)
    )
    return df if names == out_names else df.toDF(*out_names)


def read_excel_all_sheets(
    spark: SparkSession,
    path: str,
    *,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    sheet_column: str = "_sheet",
) -> DataFrame:
    """Union every sheet of ONE workbook into a single DataFrame, each row
    tagged with its sheet name in ``sheet_column``.

    The reference resolves exactly one sheet per conversion
    (``src/lib.rs:105-124`` — ``get_sheet_name`` returns a single name and
    errors otherwise); this is the multi-sheet extension of that surface,
    the pandas ``sheet_name=None`` ergonomic. Each sheet is read through
    :func:`read_excel` with its OWN inferred header schema (the reference
    naming rules apply per sheet), then the frames are unioned by column
    NAME with ``allowMissingColumns=True`` so heterogeneous sheets surface
    NULL for the columns they lack — the same additive-evolution contract
    as the parquet mergeSchema path. Column order: first sheet's columns,
    then ``sheet_column``, then new columns in sheet order.

    Scale: each sheet is an independent :func:`read_excel` plan (single-
    file split parallelism included), and the union is a zero-shuffle
    plan-level concatenation — Spark unions are not exchanges. A sheet
    read as one task is a single-partition plan, and Spark 4.1's union
    (``spark.sql.unionOutputPartitioning``) merges single-partition
    children, so such sheets are read one after another in ONE task;
    split sheets keep their own tasks. The
    workbook is parsed ONCE on the driver (sheet list + every header
    row); each per-sheet plan receives its schema instead of re-opening
    the file.

    Sheets whose header names collide after the reference dedup-suffix
    rules (the ``a, a_2, a`` edge read_excel supports positionally) are
    rejected — a BY-NAME union has no well-defined target for a
    duplicated name; and a sheet already containing ``sheet_column`` is
    rejected rather than silently overwritten.
    """
    with open_workbook(path) as wb:
        names = wb.sheet_names
        if not names:
            raise DataToParquetError(f"{path!r}: workbook has no sheets")
        headers = {
            name: scan_sheet(wb, name, skip_rows, batch_size=1)[0]
            for name in names
        }
    for name, hdr in headers.items():
        if not hdr:
            raise DataToParquetError(
                f"{path!r}: no header row found in sheet {name!r}"
            )
        if len(set(hdr)) < len(hdr):
            raise DataToParquetError(
                f"{path!r}: sheet {name!r} has duplicate header names "
                f"{hdr}; a by-name union is ambiguous — read it "
                f"positionally via read_excel(sheet_name={name!r})"
            )
        if sheet_column in hdr:
            raise DataToParquetError(
                f"{path!r}: sheet {name!r} already has a column named "
                f"{sheet_column!r}; pass a different sheet_column"
            )
    from pyspark.sql import functions as F

    out: DataFrame | None = None
    for name in names:
        part = read_excel(
            spark,
            path,
            sheet_name=name,
            skip_rows=skip_rows,
            batch_size=batch_size,
            schema=string_schema(headers[name]),
        ).withColumn(sheet_column, F.lit(name))
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    return out


def _split_spans(
    n_tasks: int,
    path: str,
    sheet_name: str | None,
    sheet_index: int | None,
    skip_rows: int,
    expected: list[str] | None,
) -> list[tuple[int, int, int]] | None:
    """Plan the parallel read of ONE large .xlsx: ``(head, lo, hi)`` nominal
    byte ranges of the inflated sheet part, one per task (the ``span`` of
    :func:`read_workbook`).

    The driver reads no sheet data: the ranges are equal slices of the
    part's inflated size (``ZipInfo.file_size``) after ``head``, the offset
    of the first ``<row``, which is looked for in the part's first MiB.
    Each task aligns its own range on ``<row r="`` boundaries
    (``XlsxWorkbook.sheet_rows``), re-opens the workbook it already needs
    for shared strings and parses its rows behind the part's own first
    ``head`` bytes, so it runs on any master and the same decoders see
    the same namespaces as the streaming path — the golden tests run
    through both.

    ``expected`` (the caller's uniquified schema names) is checked against
    the header row here, once. Returns None for small sheets (the
    single-task streaming path is faster), for sheets whose geometry only
    the streaming path can resolve and for a first row past the first MiB.
    """
    with XlsxWorkbook(path) as wb:
        sheet = wb.resolve_sheet(sheet_name, sheet_index)
        size = wb._zip.getinfo(wb._member(sheet)).file_size
        if size < SPLIT_THRESHOLD_BYTES:
            return None
        if wb.dimensions(sheet) is None:
            # no declared dimension box → geometry must be inferred from the
            # header row, which only the first range sees
            return None
        if expected is not None:
            actual, _ = scan_sheet(wb, sheet, skip_rows, batch_size=1)
            if uniquify(actual) != expected:
                raise DataToParquetError(
                    f"{path!r}: header row {actual} does not match the "
                    f"provided schema {expected}"
                )
        head = wb.first_row_offset(sheet)
    if head is None:
        return None
    n = max(1, min(n_tasks, 64))
    step = max(1, (size - head) // n)
    bounds = list(range(head, size, step)[:n]) + [size]
    return [(head, lo, hi) for lo, hi in zip(bounds, bounds[1:])]
