"""Tests for the PySpark 4 Python DataSource wrapper —
``spark.read.format("excel")`` must match ``read_excel`` exactly."""

from __future__ import annotations

import pytest

from data_to_parquet_spark.api import read_excel
from data_to_parquet_spark.sources.datasource import register

from .xlsx_fixture import write_xlsx


@pytest.fixture()
def registered(spark):
    register(spark)
    return spark


def test_format_matches_read_excel(registered, tmp_path):
    """Both front ends expand a file, a glob and a directory the same way
    (one shared helper) and read them identically."""
    for k, name in enumerate(["t.xlsx", "u.xlsx"]):
        rows = [["id", "v", ""]] + [
            [i, i * 1.5 if i % 3 else None, "" if i % 2 else f"s{i}"]
            for i in range(25 * k, 25 * k + 25)
        ]
        write_xlsx(str(tmp_path / name), {"Data": rows})
    for path, n in [
        (str(tmp_path / "t.xlsx"), 25),
        (str(tmp_path / "*.xlsx"), 50),
        (str(tmp_path), 50),
    ]:
        via_format = registered.read.format("excel").option(
            "sheet_name", "Data"
        ).load(path)
        via_api = read_excel(registered, path, sheet_name="Data")
        assert via_format.schema == via_api.schema
        got = sorted(map(tuple, via_format.collect()))
        assert got == sorted(map(tuple, via_api.collect()))
        assert len(got) == n


def test_format_multi_file_and_options(registered, tmp_path):
    # headers 'a, a_2, a' mangle (reference rules) to 'a, a_2, a_2' — a
    # RESIDUAL collision, which the format uniquifies with __dupN (the
    # documented deviation; read_excel instead restores the collision)
    for i in range(3):
        write_xlsx(
            str(tmp_path / f"p{i}.xlsx"),
            {"S": [["skipme"], ["a", "a_2", "a"], [i, i + 1, i + 2]]},
        )
    df = (
        registered.read.format("excel")
        .option("sheet_index", "0")
        .option("skip_rows", "1")
        .load(str(tmp_path))
    )
    assert df.columns == ["a", "a_2", "a_2__dup1"]
    assert df.count() == 3
    assert df.rdd.getNumPartitions() == 3  # one task per workbook


def test_format_header_mismatch_raises(registered, tmp_path):
    write_xlsx(str(tmp_path / "a.xlsx"), {"S": [["x", "y"], [1, 2]]})
    write_xlsx(str(tmp_path / "b.xlsx"), {"S": [["x"], [1]]})
    df = registered.read.format("excel").load(str(tmp_path))
    with pytest.raises(Exception, match="does not match"):
        df.collect()


def test_format_same_width_renamed_headers_raise(registered, tmp_path):
    """A later file with the SAME column count but different header names
    must raise, not be silently positionally remapped (read_excel parity)."""
    write_xlsx(str(tmp_path / "a.xlsx"), {"S": [["id", "amount"], [1, 2]]})
    write_xlsx(str(tmp_path / "b.xlsx"), {"S": [["amount", "id"], [3, 4]]})
    df = registered.read.format("excel").load(str(tmp_path))
    with pytest.raises(Exception, match="does not match"):
        df.collect()


def test_format_no_files(registered):
    # Spark wraps the DataSource's DataToParquetError at plan time; the
    # message survives the wrapping
    with pytest.raises(Exception, match="no Excel files"):
        registered.read.format("excel").load("/tmp/nope_*.xlsx").collect()


def test_format_streaming_incremental(registered, tmp_path):
    import time

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_xlsx(str(src / "f1.xlsx"), {"Data": [["id", "v"], [1, "a"], [2, "b"]]})

    def drain():
        q = (
            registered.readStream.format("excel")
            .option("sheet_name", "Data")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert registered.read.parquet(out).count() == 2
    time.sleep(0.05)  # fresh mtime for the watermark
    write_xlsx(str(src / "f2.xlsx"), {"Data": [["id", "v"], [3, "c"]]})
    drain()  # restart from checkpoint: only the new file is ingested
    rows = sorted(map(tuple, registered.read.parquet(out).collect()))
    assert rows == [("1", "a"), ("2", "b"), ("3", "c")]
    drain()  # no new files -> no duplicate ingestion
    assert registered.read.parquet(out).count() == 3
