"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("write", [
    lambda p, s: gen.write_machine_xlsx(p + ".xlsx", 300, s),
    lambda p, s: gen.write_excel_xlsx(p + ".xlsx", 300, s, comment=False),
    lambda p, s: gen.write_excel_xlsx(p + ".xlsx", 300, s, comment=True),
    lambda p, s: gen.write_xlsb(p + ".xlsb", 300, s),
])
def test_same_seed_same_workbook_bytes(tmp_path, write):
    digests = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        expected = write(str(tmp_path / name), seed)
        (path,) = tmp_path.glob(name + ".*")
        digests.append((_sha(str(path)), gen.column_digest(expected)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_same_seed_same_fleet_and_mix_tables(tmp_path):
    """The seed picks the fleet; the query_mix tables and query order are
    the same for every seed."""
    seed = 13
    dirs = {}
    for name in ("a", "b"):
        gen.write_fleet(str(tmp_path / name / "fleet"), 4, 50, seed=seed)
        dirs[name] = workloads.tables_dir(str(tmp_path / name), 0.001)
    for sub_a, sub_b in ((tmp_path / "a" / "fleet", tmp_path / "b" / "fleet"),
                         (dirs["a"], dirs["b"])):
        files = sorted(os.listdir(sub_a))
        assert files == sorted(os.listdir(sub_b)) and files
        assert all(_sha(os.path.join(sub_a, n)) == _sha(os.path.join(sub_b, n)) for n in files)
    assert len(set(workloads.MIX)) == len(workloads.MIX)


# Row counts of the repository's testdata tables (region and nation are 5
# and 25 at every scale factor).
TESTDATA_ROWS = {
    0.001: dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
                events=1000, documents=500, embeddings=500),
    0.01: dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
               events=10000, documents=500, embeddings=500),
    0.1: dict(customer=15000, supplier=1000, part=20000, orders=150000, lineitem=600000,
              events=100000, documents=5000, embeddings=2000),
}


@pytest.mark.parametrize("sf", sorted(TESTDATA_ROWS))
def test_table_rows_match_testdata(sf):
    assert gen.table_rows(sf) == {"region": 5, "nation": 25, **TESTDATA_ROWS[sf]}


def test_generated_tables_have_testdata_shape(tmp_path):
    """Row counts as declared, and a corpus shaped like the testdata's:
    10-100 words from a 30-word vocabulary plus "dup", one document in
    twenty a near-duplicate, 64-dimensional unit embeddings."""
    import numpy as np

    out = workloads.tables_dir(str(tmp_path), 0.001)
    for name, n in gen.table_rows(0.001).items():
        assert pq.ParquetFile(os.path.join(out, f"{name}.parquet")).metadata.num_rows == n, name
    texts = pq.read_table(os.path.join(out, "documents.parquet")).column("text").to_pylist()
    words = [t.split() for t in texts]
    assert 10 <= min(map(len, words)) and max(map(len, words)) <= 100
    assert {w for ws in words for w in ws} <= set(gen.WORDS) | {"dup"}
    assert sum(t.endswith(" dup") for t in texts) == len(texts) // 20
    vecs = np.array(pq.read_table(os.path.join(out, "embeddings.parquet"))
                    .column("embedding").to_pylist())
    assert vecs.shape[1] == 64
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)


def _write_converted(path, cols, batch_size):
    table = pa.table({h: pa.array(c, pa.string()) for h, c in zip(gen.HEADERS, cols)})
    pq.write_table(table, path, row_group_size=batch_size)


def test_checker_accepts_exact_output_and_catches_corruption(tmp_path):
    src = str(tmp_path / "book.xlsx")
    cols = gen.write_machine_xlsx(src, 1200, seed=1)
    digest, good = gen.column_digest(cols), str(tmp_path / "good.parquet")
    _write_converted(good, cols, 500)
    assert check.check_single_file(good, digest, 1200, 500) is None

    swapped = [c[:] for c in cols]
    for c in swapped:
        c[3], c[4] = c[4], c[3]
    nulled = [c[:] for c in cols]
    nulled[6][5] = "" if nulled[6][5] is None else None
    for name, bad_cols, groups in (("swapped", swapped, 500), ("nulled", nulled, 500),
                                   ("groups", cols, 400)):
        bad = str(tmp_path / f"{name}.parquet")
        _write_converted(bad, bad_cols, groups)
        assert check.check_single_file(bad, digest, 1200, 500) is not None, name


def test_query_checker_oracle_and_pin(tmp_path):
    out = tmp_path / "q"
    out.mkdir()
    pq.write_table(pa.table({"k": [2, 1], "v": [0.5, float("nan")]}), str(out / "part-0.parquet"))
    oracle = {"cols": ["v", "k"], "rows": check.canonical_rows(["v", "k"], [(float("nan"), 1), (0.5, 2)])}
    assert check.check_query(str(out), oracle) is None
    wrong = {"cols": ["v", "k"], "rows": check.canonical_rows(["v", "k"], [(float("nan"), 1), (0.25, 2)])}
    assert check.check_query(str(out), wrong) is not None
    _, rows = check.read_result(str(out))
    assert check.check_query(str(out), {"n": 2, "digest": check.rows_digest(rows)}) is None
    assert check.check_query(str(out), {"n": 2, "digest": "0"}) is not None


def test_percentile_rule():
    assert workloads.tail_percentile(42) == 75
    assert workloads.tail_percentile(100) == 90
    assert workloads.tail_percentile(20) == 50
    assert workloads.tail_percentile(19) is None


def test_hd_median():
    assert workloads.hd_median([5.0, 1.0, 3.0, 2.0, 4.0]) == pytest.approx(3.0)
    assert workloads.hd_median([2.0] * 7) == pytest.approx(2.0)
    assert workloads.hd_median([1.0, 2.0]) == pytest.approx(1.5)
    # across a gap at the middle it lies between the samples on either side
    # (the sample median would be 9)
    assert 5.0 < workloads.hd_median([1.0, 1.0, 1.0, 9.0, 9.0, 9.0, 9.0]) < 8.5


def test_stamp_reads_sha_from_loose_or_packed_ref(tmp_path, monkeypatch):
    import run

    git = tmp_path / ".git"
    (git / "refs" / "heads").mkdir(parents=True)
    (git / "HEAD").write_text("ref: refs/heads/feat\n")
    (git / "packed-refs").write_text(
        "# pack-refs with: peeled fully-peeled sorted\n"
        f"{'1' * 40} refs/heads/other\n{'2' * 40} refs/heads/feat\n^{'3' * 40}\n")
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.source_stamp()["git_sha"] == "2" * 40
    (git / "refs" / "heads" / "feat").write_text("4" * 40 + "\n")
    assert run.source_stamp()["git_sha"] == "4" * 40


def _fake_run(tmp_path) -> workloads.Run:
    """A run whose measurements are filled in by hand, to exercise metric
    assembly without Spark."""
    run = workloads.Run.__new__(workloads.Run)
    run.outputs = str(tmp_path / "out")
    run.scratch = str(tmp_path)
    os.makedirs(run.outputs)
    pq.write_table(pa.table({"x": [1]}), os.path.join(run.outputs, "op0.parquet"))
    run.timed_outputs = [os.path.join(run.outputs, "op0.parquet")]
    run.setup_s, run.wall_s, run.rows_written = 9.0, 4.0, 1000
    run.latencies = [1.0, 1.5, 2.0]
    run.cpu = {"driver": 1.0, "jvm": 2.0, "pyworker": 3.0}
    run.peak_rss_mb, run.row_groups, run.trace_overhead_s = 900.0, 3, 0.1
    run.tracer = Tracer("fake", enabled=True)
    names = ["session.get_spark", "session.warmup", "sources.excel.read_excel",
             "sources.excel.infer_schema", "sources.excel.noop_read",
             "sources.datasource.noop_read", "sinks.parquet.write",
             "sinks.parquet.single_file", "api.convert", "api.convert_many",
             "operators.base.load_table"]
    for name in names:
        with run.tracer.span(name):
            pass
    for name in ("sources.excel.scan_sheet", "sources.xlsx.strict.drain",
                 "sources.xlsx.styled.drain", "sources.xlsx.nonfast.drain",
                 "sources.xlsb.drain"):
        with run.tracer.span(name) as rec:
            rec["rows"] = 10
    for mod in workloads.MODULES:
        for phase in ("construct", "execute"):
            with run.tracer.span(f"operators.{phase}", module=mod) as rec:
                rec["spark"] = {"jobs": 1, "tasks": 4}
    run.timed_spans = run.tracer.spans
    return run


def test_every_named_metric_is_printed_with_its_unit(tmp_path):
    with open(BENCHMARK) as f:
        bench = json.load(f)
    run = _fake_run(tmp_path)
    for key, got in (("end_to_end", run.end_to_end()), ("per_layer", run.per_layer())):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        assert {k: u for k, (_, u) in got.items()} == declared, key
        assert all(isinstance(v, (int, float)) for v, _ in got.values())
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
