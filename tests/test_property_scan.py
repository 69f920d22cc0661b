"""Property-based (hypothesis) model tests: for random sparse sheets, the
engine's scan must equal a direct executable model of the reference's
documented semantics (SURVEY.md §1.3-1.4) — header mangling, positional
densification, null-vs-empty, width truncation, row skipping.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from data_to_parquet_spark.kernels import build_headers, format_float
from data_to_parquet_spark.sources.excel import open_workbook, scan_sheet

from .xlsx_fixture import write_xlsx

_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
    max_size=8,
)
_number = st.one_of(
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)
# cell spec strategy: None (absent), ("empty",), int, float, str, bool
_cell = st.one_of(st.none(), st.just(("empty",)), _number, _text, st.booleans())

_grid = st.lists(
    st.lists(_cell, min_size=1, max_size=6), min_size=1, max_size=8
)


def _model_cell_to_string(spec) -> str:
    """Executable model of the stringify rules (src/lib.rs:387-400)."""
    if isinstance(spec, tuple):
        return ""  # ("empty",)
    if isinstance(spec, bool):
        return "true" if spec else "false"
    if isinstance(spec, int):
        return str(spec)
    if isinstance(spec, float):
        return format_float(spec)
    return spec


def _model_scan(grid, skip_rows=0):
    """Executable model of the full scan (SURVEY.md §1.3-1.4) over a dense
    spec grid. Geometry comes from the DECLARED dimension box (the fixture
    writer, like real Excel writers, declares the grid's bounding box
    including physically-absent leading cells) — reference src/lib.rs:160-162
    is dimension-driven, not content-driven."""
    present = {
        (r, c): spec
        for r, row in enumerate(grid)
        for c, spec in enumerate(row)
        if spec is not None
    }
    if not present:
        return None
    r0, c0 = 0, 0
    c1 = max(len(row) for row in grid) - 1
    num_cols = c1 - c0 + 1
    header_row = r0 + skip_rows
    header_cells = {
        c: _model_cell_to_string(present[(header_row, c)])
        for c in range(c0, c1 + 1)
        if (header_row, c) in present
    }
    headers = build_headers(header_cells, num_cols, c0)
    data = []
    for r in range(header_row + 1, len(grid)):
        row_cells = {c: s for (rr, c), s in present.items() if rr == r}
        if not row_cells:
            continue  # physically absent row
        data.append(
            [
                _model_cell_to_string(row_cells[c]) if c in row_cells else None
                for c in range(c0, c0 + num_cols)
            ]
        )
    return headers, data


@settings(max_examples=80, deadline=None)
@given(grid=_grid, skip=st.integers(min_value=0, max_value=2))
def test_scan_matches_model(grid, skip, tmp_path_factory):
    model = _model_scan(grid, skip)
    path = str(
        tmp_path_factory.mktemp("prop") / "prop.xlsx"
    )
    write_xlsx(path, {"S": grid})
    with open_workbook(path) as wb:
        headers, batches = scan_sheet(wb, "S", skip_rows=skip)
        rows = [row for b in batches for row in b]
    if model is None:
        assert headers == [] or rows == []
        return
    m_headers, m_rows = model
    if not m_headers:
        return  # header row fully absent — geometry degenerate, skip
    assert headers == m_headers
    assert rows == m_rows


_xlsb_cell = st.one_of(
    st.none(),
    st.just(("empty",)),
    st.integers(min_value=-(1 << 28), max_value=(1 << 28)),  # RK int range
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
        max_size=8,
    ),
    st.booleans(),
)

_xlsb_grid = st.lists(
    st.lists(_xlsb_cell, min_size=1, max_size=5), min_size=1, max_size=6
)


@settings(max_examples=50, deadline=None)
@given(grid=_xlsb_grid, skip=st.integers(min_value=0, max_value=2))
def test_xlsb_scan_matches_model(grid, skip, tmp_path_factory):
    """The binary-format scan obeys the same semantic model as xlsx."""
    from .xlsb_fixture import write_xlsb

    model = _model_scan(grid, skip)
    path = str(tmp_path_factory.mktemp("propb") / "prop.xlsb")
    write_xlsb(path, {"S": grid})
    with open_workbook(path) as wb:
        headers, batches = scan_sheet(wb, "S", skip_rows=skip)
        rows = [row for b in batches for row in b]
    if model is None:
        assert headers == [] or rows == []
        return
    m_headers, m_rows = model
    if not m_headers:
        return
    assert headers == m_headers
    assert rows == m_rows


# Excel-written cell forms on top of the model's: s= styled numbers, <f>
# before <v>, shared/escaped text and multi-run rich text
_walker_cell = st.one_of(
    _cell,
    st.tuples(st.just("date_serial"), _number),
    st.tuples(st.just("formula"), _text, st.one_of(_number, _text)),
    st.tuples(st.just("rich"), st.lists(_text, min_size=2, max_size=3)),
    st.tuples(st.just("shared"), _text),
    st.tuples(st.just("formula_str"), _text),
    st.tuples(st.just("error"), st.sampled_from(["#DIV/0!", "#N/A", "#REF!"])),
)
_walker_grid = st.lists(
    st.lists(_walker_cell, min_size=1, max_size=6), min_size=1, max_size=8
)


@settings(max_examples=40, deadline=None)
@given(grid=_walker_grid)
def test_fast_walker_matches_et_walker(grid, tmp_path_factory):
    """Differential fuzz: the find-based fast walker (with its strict
    per-row tier, and with that tier refusing every row) and the
    ElementTree walker must emit identical (row, cells) streams for any
    fixture the writer can produce (sparse cells, unicode, entities,
    floats, bools, styled numbers, formulas, rich text)."""
    import io
    from unittest import mock

    from data_to_parquet_spark.sources.xlsx import (
        XlsxWorkbook,
        _fast_path_eligible,
        walk_rows,
        walk_rows_fast,
    )

    path = str(
        tmp_path_factory.mktemp("walkers") / "grid.xlsx"
    )
    write_xlsx(path, {"S": grid})
    with XlsxWorkbook(path) as wb:
        member = dict(wb._sheet_targets)["S"]
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
