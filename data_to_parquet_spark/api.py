"""Public conversion API — keyword-for-keyword parity with the reference's
Python wrapper (``python_lib/src/data_to_parquet_bin/__init__.py:68-75``):

    await convert_to_parquet(input_path, output_path, sheet_name=None,
                             sheet_index=None, skip_rows=0, batch_size=5000)

but executing a Spark job instead of spawning a Rust subprocess. A synchronous
:func:`convert` is also exposed (the async form just runs it in a thread
executor — the process boundary the reference needed does not exist here).
"""

from __future__ import annotations

import asyncio
import os

from pyspark.sql import SparkSession

from .errors import DataToParquetError
from .session import get_spark
from .sinks.parquet import to_single_parquet_file
from .sources.excel import DEFAULT_BATCH_SIZE, read_excel

__all__ = ["convert", "convert_to_parquet", "DataToParquetError"]


def convert(
    input_path: str,
    output_path: str,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    spark: SparkSession | None = None,
) -> int:
    """Convert one Excel workbook sheet to a single Parquet file.

    Returns the number of data rows written (the reference logs this count —
    ``src/lib.rs:57-62``).
    """
    spark = spark or get_spark()
    df = read_excel(
        spark,
        input_path,
        sheet_name=sheet_name,
        sheet_index=sheet_index,
        skip_rows=skip_rows,
        batch_size=batch_size,
    )
    # ONE pass: the tasks decode with full parallelism, the sink collects
    # their Arrow batches in order and writes one file, and the row count
    # comes back from the collected table — no cache materialization, no
    # separate count job, no one-task drain. row_group_rows=batch_size
    # replicates the reference writer's ``max_row_group_size = batch_size``
    # (src/lib.rs:281-282) exactly.
    return to_single_parquet_file(df, output_path, row_group_rows=batch_size)


def convert_many(
    input_paths: list[str] | str,
    output_dir: str,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    spark: SparkSession | None = None,
    compression: str = "zstd",
) -> int:
    """Convert many workbooks (list, glob, or directory) into ONE distributed
    parquet dataset — the scale path the single-file reference lacks.

    One Spark task per workbook; all files must share the first file's
    header schema. Returns total rows written.
    """
    from .sinks.parquet import to_parquet

    spark = spark or get_spark()
    df = read_excel(
        spark,
        input_paths,
        sheet_name=sheet_name,
        sheet_index=sheet_index,
        skip_rows=skip_rows,
        batch_size=batch_size,
    )
    # ONE pass: write directly, then sum the row counts from the written
    # part files' parquet footers driver-side — no cache materialization
    # holding the whole fleet in memory, no separate count job re-parsing
    # every workbook.
    to_parquet(df, output_dir, compression=compression)
    import glob as _glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in _glob.glob(os.path.join(output_dir, "**", "*.parquet"),
                            recursive=True)
    )


async def convert_to_parquet(
    input_path: str,
    output_path: str,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    spark: SparkSession | None = None,
) -> int:
    """Async shim matching the reference's coroutine surface."""
    loop = asyncio.get_running_loop()
    return await loop.run_in_executor(
        None,
        lambda: convert(
            input_path,
            output_path,
            sheet_name=sheet_name,
            sheet_index=sheet_index,
            skip_rows=skip_rows,
            batch_size=batch_size,
            spark=spark,
        ),
    )
