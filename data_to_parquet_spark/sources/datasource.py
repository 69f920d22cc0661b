"""``spark.read.format("excel")`` — the engine's Excel scan surfaced as a
PySpark 4 Python DataSource (V2 API).

This is the idiomatic Spark face of the reference's converter pipeline
(``src/lib.rs:30-65``): the same stdlib streaming readers and header/
stringify kernels as :func:`..sources.excel.read_excel`, but registered as a
named format so Excel participates in the normal reader surface::

    spark.dataSource.register(ExcelDataSource)
    df = (spark.read.format("excel")
          .option("sheet_name", "Data")
          .option("skip_rows", "1")
          .load("/data/books/*.xlsx"))

Execution model: ``partitions()`` returns one :class:`InputPartition` per
workbook (the same one-task-per-file parallelism as ``read_excel``'s
multi-file path — replacing the reference's 8 hard-coded threads,
``src/lib.rs:169,237``), and ``read()`` is ``read_excel``'s task reader,
:func:`..sources.excel.read_workbook`: Arrow RecordBatches straight from
the streaming scan, so rows never materialize driver-side and per-task
memory stays bounded by one batch.

Differences from :func:`read_excel` (documented deviations):

* duplicate output column names (the reference's ``a, a_2, a`` collision,
  ``src/lib.rs:455-463``) keep their :func:`..sources.excel.uniquify`
  ``__dupN`` suffixes — a named format cannot rename columns after the
  fact the way ``read_excel``'s ``toDF`` restore does;
* the single-large-file split path is not applied (a DataSource partition
  maps to a whole file); use ``read_excel`` to split one giant workbook
  across tasks.

Path expansion, schema inference, header uniquify and the task reader
itself are :mod:`.excel`'s, so both front ends read identically.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..errors import DataToParquetError
from .excel import (
    DEFAULT_BATCH_SIZE,
    expand_paths,
    infer_schema,
    read_workbook,
    string_schema,
    uniquify,
)

__all__ = ["ExcelDataSource", "register"]


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class ExcelDataSource(DataSource):
    """Excel workbooks (.xlsx/.xlsb) as a named Spark read format."""

    @classmethod
    def name(cls) -> str:
        return "excel"

    def _opts(self):
        o = self.options
        sheet_index = o.get("sheet_index")
        return (
            o.get("sheet_name"),
            int(sheet_index) if sheet_index is not None else None,
            int(o.get("skip_rows", 0)),
            int(o.get("batch_size", DEFAULT_BATCH_SIZE)),
        )

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise DataToParquetError("format('excel') requires .load(path)")
        return path

    def schema(self) -> T.StructType:
        sheet_name, sheet_index, skip_rows, _ = self._opts()
        inferred = infer_schema(
            expand_paths(self._path())[0], sheet_name, sheet_index, skip_rows
        )
        return string_schema(uniquify(inferred.fieldNames()))

    def reader(self, schema: T.StructType) -> "ExcelReader":
        return ExcelReader(expand_paths(self._path()), schema, *self._opts())

    def streamReader(self, schema: T.StructType) -> "ExcelStreamReader":
        return ExcelStreamReader(self._path(), schema, *self._opts())


class ExcelReader(DataSourceReader):
    def __init__(self, files, schema, *opts):
        self.files = files
        self.field_names = schema.fieldNames()
        self.opts = opts  # sheet_name, sheet_index, skip_rows, batch_size

    def partitions(self) -> list[InputPartition]:
        return [_FilePartition(p) for p in self.files]

    def read(self, partition: _FilePartition):
        return read_workbook(partition.path, *self.opts, self.field_names)


class ExcelStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("excel")`` — continuous workbook ingestion.

    Offset model: the offset IS the seen-files ledger ``{path: mtime_ns}``
    (the same design as Spark's built-in FileStreamSource): ``latestOffset``
    merges the current directory listing into the ledger, and a micro-batch
    processes exactly the paths present in ``end`` but not in ``start`` —
    one InputPartition (= one task) per new file. Because membership is by
    path (not by an mtime watermark), a file landing with an old or tied
    modification time is still picked up exactly once, and a transiently
    empty listing (unmounted share, slow NFS) cannot regress the offset and
    re-ingest history. Exactly-once is keyed by path: a file REWRITTEN in
    place is NOT ingested again — append-only landing zones are the
    intended layout (mtimes are recorded for observability only).

    The ledger grows with the total file count, exactly like
    FileStreamSource's seen-files map (bounded there only by the optional
    maxFileAge); directory retention/compaction is the operator's job.
    The schema is inferred at stream start, so at least one workbook must
    exist (or pass an explicit schema).
    """

    def __init__(self, path, schema, *opts):
        self.path = path
        self.field_names = schema.fieldNames()
        self.opts = opts  # sheet_name, sheet_index, skip_rows, batch_size

    def _listing(self) -> dict[str, int]:
        try:
            files = expand_paths(self.path)
        except DataToParquetError:
            return {}
        out: dict[str, int] = {}
        for p in files:
            try:
                out[p] = os.stat(p).st_mtime_ns
            except OSError:
                continue  # deleted between listing and stat
        return out

    def initialOffset(self) -> dict:
        return {"seen": {}}

    def latestOffset(self) -> dict:
        # monotone: the new ledger is a superset of the last one this
        # instance produced, so an empty/failed listing never shrinks it
        seen = dict(getattr(self, "_seen", {}))
        seen.update(
            {p: mt for p, mt in self._listing().items() if p not in seen}
        )
        self._seen = seen
        return {"seen": seen}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["seen"]) - set(start["seen"]))
        return [_FilePartition(p) for p in new]

    def read(self, partition: _FilePartition):
        return read_workbook(partition.path, *self.opts, self.field_names)

    def commit(self, end: dict) -> None:
        pass  # the checkpoint log is the ledger; nothing engine-side to GC


def register(spark) -> None:
    """Idempotently register the 'excel' format on a SparkSession."""
    spark.dataSource.register(ExcelDataSource)
