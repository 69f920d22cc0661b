"""The benchmark's workloads, its set-up and its layer probes.

One process is one closed-loop client: it issues one operation (a convert
call or a registry query) at a time and the next when the previous returns.
Each run starts a fresh Spark session, so session memos are cold and their
builds are paid inside the run, as in a real session.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import time

import check
import gen
from spans import RssSampler, SPARK_COUNTERS, Tracer, cpu_by_role

WORKLOADS = ("convert_single", "query_mix")
BATCH_SIZE = 5000  # the engine's default batch_size and row-group size

SINGLE_ROWS = 100_000  # ~34 MB of sheet XML, far above the 4 MB split threshold
# The Excel-shaped fleet (files, rows per file) of the traced run's
# convert_many and DataSource probes: each sheet is well under the split
# threshold, so it takes one task per file and no merge.
PROBE_FLEET = (16, 1000)
OP_SECONDS = 2.0  # nominal convert latency on 4 cores; sets the op count per run
MIN_OPS = 3

WARM_SF, MIX_SF = 0.001, 0.01
# One table set per scale factor, whatever the run seed: the spread of
# query_mix across seeds is then run-to-run noise, not differences between
# inputs.
TABLE_SEED = 20240101

# The registry queries of query_mix: all 9 operator modules, the whole
# near-duplicate pairs memo family (its build and its hits are paid inside
# the run), the iterative operators (PageRank, DBSCAN) and a rows-only
# query. The mix is sized so that every run of every workload fits the
# benchmark's time budget on a contended host; load_table's cost is
# measured by the traced run's operators.base.load_table probe.
MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q8_market_share",
    "q13_customer_distribution", "events_sessionize_30min",
    "neardup_jaccard_pairs", "dedup_connected_components", "neardup_graph_pagerank",
    "dedup_chain_depth_report", "neardup_cluster_purity",
    "similarity_topk_bruteforce", "similarity_ann_ivfpq", "dbscan_embedding_clusters",
    "tfidf_top_terms", "contamination_ngram_overlap", "multimodal_mixed_manifest",
    "csv_ingest", "excel_multisheet_union",
]
MODULES = ["relational", "tpch_extra", "events", "dedup", "similarity",
           "text", "pipeline", "multimodal", "misc"]
# one cheap query per module: the operator probe of the convert workloads
PROBE_QUERIES = [
    "q6_revenue_forecast", "q13_customer_distribution", "events_tumbling_5min",
    "dedup_minhash_pairs", "kmeans_embedding_clusters", "tfidf_top_terms",
    "contamination_ngram_overlap", "multimodal_mixed_manifest", "csv_ingest",
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# Rows-only queries have no oracle: their row count and digest are pinned
# for the query_mix table set, measured at the commit that added them.
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def tail_percentile(n: int) -> int | None:
    """The highest of p99/p95/p90/p75/p50 with at least ten of ``n``
    samples beyond it, or None when there are fewer than 20 samples."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, with weights from a Beta((n+1)/2, (n+1)/2) distribution.
    Unlike the sample median it does not jump from one sample to the next
    when the latencies around the middle are far apart, as they are in a
    mix of heterogeneous queries."""
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    steps = 200 * n  # midpoint rule on the Beta density, 200 steps per sample
    weights = [0.0] * n
    for k in range(steps):
        x = (k + 0.5) / steps
        weights[k * n // steps] += math.exp(log_norm + (a - 1) * math.log(x * (1 - x)))
    total = sum(weights)
    return sum(w * v for w, v in zip(weights, xs)) / total


def _code_hash(*modules) -> str:
    h = hashlib.sha256()
    for m in modules:
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def tables_dir(work: str, sf: float) -> str:
    """Generate (once per checkout) and return the table set at ``sf``."""
    path = os.path.join(work, f"tables-sf{sf}-{_code_hash(gen)}")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        gen.write_tables(tmp, sf, TABLE_SEED)
        os.rename(tmp, path)
    return path


def pin_key() -> str:
    """Pins hold for the query_mix table set as generated by this gen.py."""
    return f"sf{MIX_SF}-{_code_hash(gen)}"


def _fingerprint(directory: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(directory, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _tuplify(v):
    return tuple(_tuplify(x) for x in v) if isinstance(v, list) else v


def oracle_expectations(work: str, sf_dir: str, oracles: dict) -> dict:
    """DuckDB oracle rows for the mix's oracled queries, cached per table
    fingerprint and oracle text."""
    import duckdb

    wanted = {n: oracles[n] for n in MIX if n in oracles}
    key = hashlib.sha256(
        (_fingerprint(sf_dir) + json.dumps(wanted, sort_keys=True)).encode()
    ).hexdigest()[:16]
    path = os.path.join(work, f"oracle-{key}.json")
    if not os.path.exists(path):
        con = duckdb.connect()
        con.execute("SET enable_progress_bar=false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in wanted.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = {"cols": cols, "rows": check.canonical_rows(cols, res.fetchall())}
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(out, f, default=str)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        exp = json.load(f)
    for v in exp.values():
        v["rows"] = [_tuplify(r) for r in v["rows"]]
    return exp


def prepare(work: str) -> None:
    """Generate every table set and oracle answer the workloads read, once
    per checkout, so that later runs find them ready: the DuckDB oracles of
    the dedup memo family take about a minute, which would otherwise push a
    run over its time limit."""
    import __spark_entry__

    tables_dir(work, WARM_SF)
    oracle_expectations(work, tables_dir(work, MIX_SF), __spark_entry__.oracle_sql())


class Run:
    """One benchmark run: set-up, the timed phase and, when traced, the
    layer probes."""

    def __init__(self, work: str, workload: str, seed: int, seconds: int,
                 traced: bool, process_start: float) -> None:
        self.work, self.workload = work, workload
        self.seed, self.seconds = seed, seconds
        self.process_start = process_start
        self.scratch = os.path.join(work, f"run-{os.getpid()}")
        self.inputs = os.path.join(self.scratch, "in")
        self.outputs = os.path.join(self.scratch, "out")
        os.makedirs(self.inputs, exist_ok=True)
        os.makedirs(self.outputs, exist_ok=True)
        self.tracer = Tracer(f"{workload}-{seed}", traced)
        self.failures: dict[str, str] = {}  # operation label -> reason
        self.attempted = 0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Process start to a warmed session: JVM start, Python worker
        spin-up, first codegen and the first Parquet write, at sf0.001."""
        from data_to_parquet_spark.session import get_spark
        from data_to_parquet_spark.sinks.parquet import to_parquet

        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        # the operator probes of the convert workloads read these too
        self.table_dir = tables_dir(self.work, WARM_SF)
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.tracer.sc = self.sc
        with self.tracer.span("session.warmup", spark_group=True):
            df = self.queries["q6_revenue_forecast"](self.spark, self.table_dir)
            to_parquet(df, os.path.join(self.outputs, "warmup"))
            n = self.sc.defaultParallelism
            self.spark.range(0, 8 * n, 1, n).mapInPandas(lambda it: it, "id long").count()
        self.setup_s = time.time() - self.process_start

    # -- timed phase ------------------------------------------------------
    def timed(self, ops: dict) -> None:
        """Run ``ops`` ({output path: callable writing it}) closed-loop and
        record latency, CPU and peak RSS."""
        first_span = len(self.tracer.spans)
        self.latencies = []
        self.timed_outputs = list(ops)
        with RssSampler() as rss:
            cpu0 = cpu_by_role()
            t0 = time.perf_counter()
            for out, fn in ops.items():
                self.attempted += 1
                start = time.perf_counter()
                try:
                    fn(out)
                except Exception as exc:  # noqa: BLE001 — a failed op is counted
                    self.failures[out] = f"{type(exc).__name__}: {exc}"[:300]
                self.latencies.append(time.perf_counter() - start)
            self.wall_s = time.perf_counter() - t0
            cpu1 = cpu_by_role()
        self.peak_rss_mb = rss.peak_mb
        self.cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        self.timed_spans = self.tracer.spans[first_span:]
        self.trace_overhead_s = self.tracer.overhead_s

    def convert_single(self) -> None:
        from data_to_parquet_spark.api import convert

        src = os.path.join(self.inputs, "single.xlsx")
        digest = gen.column_digest(gen.write_machine_xlsx(src, SINGLE_ROWS, self.seed))
        self.target = src
        convert(src, os.path.join(self.outputs, "warm.parquet"),
                sheet_name="Data", spark=self.spark)

        def op(out):
            with self.tracer.span("api.convert", spark_group=True):
                convert(src, out, sheet_name="Data", batch_size=BATCH_SIZE, spark=self.spark)

        self.timed({os.path.join(self.outputs, f"op{i}.parquet"): op
                    for i in range(self._n_ops())})
        self.rows_written = SINGLE_ROWS * self.attempted
        self._check_each(lambda o: check.check_single_file(o, digest, SINGLE_ROWS, BATCH_SIZE))

    def query_mix(self) -> None:
        import pyarrow.parquet as pq

        self.table_dir = tables_dir(self.work, MIX_SF)
        expect = oracle_expectations(self.work, self.table_dir, self.oracles)
        with open(PINS_PATH) as f:
            pins = json.load(f).get(pin_key(), {})
        for name in MIX:
            if name not in expect:
                expect[name] = pins.get(name, {"n": -1, "digest": "unpinned"})
        self.target = None
        self.timed({os.path.join(self.outputs, n): lambda out: self._query(
            os.path.basename(out), out) for n in MIX})
        self.rows_written = sum(
            pq.ParquetFile(p).metadata.num_rows
            for out in self.timed_outputs for p in glob.glob(os.path.join(out, "*.parquet"))
        )
        self._check_each(lambda o: check.check_query(o, expect[os.path.basename(o)]))

    def _query(self, name: str, out: str) -> None:
        from data_to_parquet_spark.sinks.parquet import to_parquet

        module = self.queries[name].__module__.rsplit(".", 1)[-1]
        with self.tracer.span("operators.query", query=name, module=module):
            with self.tracer.span("operators.construct", spark_group=True, module=module):
                df = self.queries[name](self.spark, self.table_dir)
            with self.tracer.span("operators.execute", spark_group=True, module=module):
                to_parquet(df, out)

    def _n_ops(self) -> int:
        return max(MIN_OPS, round(self.seconds / OP_SECONDS))

    def _check_each(self, fn) -> None:
        """Check every timed output that was written without an error."""
        for out in self.timed_outputs:
            if out in self.failures:
                continue
            try:
                why = fn(out)
            except Exception as exc:  # noqa: BLE001 — unreadable output fails
                why = f"{type(exc).__name__}: {exc}"
            if why:
                self.failures[out] = why[:300]

    # -- metrics ----------------------------------------------------------
    def out_mb(self) -> float:
        """Parquet bytes the timed operations wrote."""
        files = [p for out in self.timed_outputs
                 for p in ([out] if out.endswith(".parquet")
                           else glob.glob(os.path.join(out, "*.parquet")))]
        return sum(os.path.getsize(p) for p in files) / 1e6

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (self.wall_s, "s"),
            "rows_per_s": (self.rows_written / self.wall_s, "1/s"),
            "op_p50_s": (hd_median(self.latencies), "s"),
            "cpu_s": (sum(self.cpu.values()), "s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "out_mb": (self.out_mb(), "MB"),
        }

    # -- layer probes (traced runs) ---------------------------------------
    def probes(self) -> None:
        """Per-layer calls for the layers the workload's own operations do
        not cover, on the workload's inputs where it has them and on small
        seeded probe inputs otherwise."""
        from data_to_parquet_spark.api import convert, convert_many

        t = self.tracer
        probe_xlsx = os.path.join(self.inputs, "probe.xlsx")
        gen.write_machine_xlsx(probe_xlsx, 20_000, self.seed + 1)
        probe_fleet = os.path.join(self.inputs, "probe_fleet")
        gen.write_fleet(probe_fleet, *PROBE_FLEET, self.seed + 2)
        target = self.target or probe_xlsx

        if self.workload != "convert_single":
            with t.span("api.convert", spark_group=True):
                convert(probe_xlsx, os.path.join(self.outputs, "probe.parquet"),
                        sheet_name="Data", spark=self.spark)
        with t.span("api.convert_many", spark_group=True):
            convert_many(probe_fleet, os.path.join(self.outputs, "probe_many"),
                         sheet_name="Data", spark=self.spark)
        self._probe_sources(target, probe_fleet)
        self._probe_sinks(target)
        self._probe_operators()

    def _probe_sources(self, target: str, fleet: str) -> None:
        from data_to_parquet_spark.sources import datasource
        from data_to_parquet_spark.sources.excel import (
            infer_schema, open_workbook, read_excel, scan_sheet)

        t = self.tracer
        with t.span("sources.excel.read_excel", spark_group=True):
            df = read_excel(self.spark, target, sheet_name="Data")
        with t.span("sources.excel.noop_read", spark_group=True):
            df.write.format("noop").mode("overwrite").save()
        with t.span("sources.excel.infer_schema"):
            infer_schema(target, "Data")
        with t.span("sources.excel.scan_sheet") as rec:
            rec["rows"] = 0
            with open_workbook(target) as wb:
                _, batches = scan_sheet(wb, "Data", 0, BATCH_SIZE)
                for batch in batches:
                    rec["rows"] += len(batch)
                    if rec["rows"] >= 20_000:
                        break
        datasource.register(self.spark)
        with t.span("sources.datasource.noop_read", spark_group=True):
            (self.spark.read.format("excel").option("sheet_name", "Data").load(fleet)
             .write.format("noop").mode("overwrite").save())
        shapes = {
            "sources.xlsx.strict": lambda p: gen.write_machine_xlsx(p + ".xlsx", 5000, self.seed + 3),
            "sources.xlsx.styled": lambda p: gen.write_excel_xlsx(p + ".xlsx", 5000, self.seed + 4, comment=False),
            "sources.xlsx.nonfast": lambda p: gen.write_excel_xlsx(p + ".xlsx", 5000, self.seed + 5, comment=True),
            "sources.xlsb": lambda p: gen.write_xlsb(p + ".xlsb", 5000, self.seed + 6),
        }
        for name, write in shapes.items():
            stem = os.path.join(self.inputs, name.replace(".", "_"))
            write(stem)
            path = glob.glob(stem + ".xls*")[0]
            with open_workbook(path) as wb, t.span(name + ".drain") as rec:
                rec["rows"] = sum(1 for _ in wb.iter_rows_str("Data"))

    def _probe_sinks(self, target: str) -> None:
        from data_to_parquet_spark.operators.base import load_table
        from data_to_parquet_spark.sinks.parquet import to_parquet, to_single_parquet_file
        from data_to_parquet_spark.sources.excel import read_excel

        import pyarrow.parquet as pq

        if self.workload == "query_mix":
            df = load_table(self.spark, self.table_dir, "lineitem")
        else:
            df = read_excel(self.spark, target, sheet_name="Data")
        df = df.cache()
        df.count()
        for i in range(3):
            with self.tracer.span("sinks.parquet.write", spark_group=True):
                to_parquet(df, os.path.join(self.outputs, f"sink_dir{i}"))
            single = os.path.join(self.outputs, f"sink_file{i}.parquet")
            with self.tracer.span("sinks.parquet.single_file", spark_group=True):
                to_single_parquet_file(df, single, row_group_rows=BATCH_SIZE)
        self.row_groups = pq.ParquetFile(single).metadata.num_row_groups
        df.unpersist()

    def _probe_operators(self) -> None:
        from data_to_parquet_spark.operators.base import load_table

        with self.tracer.span("operators.base.load_table", spark_group=True):
            for name in TABLES:
                load_table(self.spark, self.table_dir, name)
        if self.workload != "query_mix":
            for name in PROBE_QUERIES:
                self._query(name, os.path.join(self.outputs, f"probe_{name}"))

    def per_layer(self) -> dict:
        spans = self.tracer.spans

        def durations(name, **match):
            return [s["seconds"] for s in spans if s["name"] == name
                    and all(s.get(k) == v for k, v in match.items())]

        def med(name):
            xs = durations(name)
            return statistics.median(xs) if xs else 0.0

        def rate(name):
            recs = [s for s in spans if s["name"] == name]
            return sum(s["rows"] for s in recs) / sum(s["seconds"] for s in recs)

        def jobs(name):
            return sum(s.get("spark", {}).get("jobs", 0) for s in spans if s["name"] == name)

        scratch_mb = sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(self.scratch, "tmp", "d2p_sheet_*"))) / 1e6
        m = {
            "session.get_spark_s": (med("session.get_spark"), "s"),
            "session.warmup_s": (med("session.warmup"), "s"),
            "sources.excel.read_excel_s": (med("sources.excel.read_excel"), "s"),
            "sources.excel.read_excel_jobs": (jobs("sources.excel.read_excel"), "count"),
            "sources.excel.infer_schema_s": (med("sources.excel.infer_schema"), "s"),
            "sources.excel.noop_read_s": (med("sources.excel.noop_read"), "s"),
            "sources.excel.scan_sheet_rows_per_s": (rate("sources.excel.scan_sheet"), "1/s"),
            "sources.xlsx.strict_rows_per_s": (rate("sources.xlsx.strict.drain"), "1/s"),
            "sources.xlsx.styled_rows_per_s": (rate("sources.xlsx.styled.drain"), "1/s"),
            "sources.xlsx.nonfast_rows_per_s": (rate("sources.xlsx.nonfast.drain"), "1/s"),
            "sources.xlsb.rows_per_s": (rate("sources.xlsb.drain"), "1/s"),
            "sources.datasource.noop_read_s": (med("sources.datasource.noop_read"), "s"),
            "sources.excel.scratch_mb_left": (scratch_mb, "MB"),
            "sinks.parquet.write_s": (med("sinks.parquet.write"), "s"),
            "sinks.parquet.single_file_s": (med("sinks.parquet.single_file"), "s"),
            "sinks.parquet.merge_s": (med("sinks.parquet.single_file") - med("sinks.parquet.write"), "s"),
            "sinks.parquet.row_groups": (self.row_groups, "count"),
            "api.convert_s": (med("api.convert"), "s"),
            "api.convert_many_s": (med("api.convert_many"), "s"),
            "operators.base.load_table_s": (med("operators.base.load_table"), "s"),
            "operators.construct_s": (sum(durations("operators.construct")), "s"),
            "operators.construct_jobs": (jobs("operators.construct"), "count"),
            "operators.execute_s": (sum(durations("operators.execute")), "s"),
        }
        for mod in MODULES:
            for phase in ("construct", "execute"):
                m[f"operators.{mod}.{phase}_s"] = (
                    sum(durations(f"operators.{phase}", module=mod)), "s")
        for k, unit in SPARK_COUNTERS.items():
            m[f"spark.{k}"] = (sum(s.get("spark", {}).get(k, 0) for s in self.timed_spans), unit)
        for role in ("driver", "jvm", "pyworker"):
            m[f"cpu.{role}_s"] = (self.cpu[role], "s")
        m["trace.overhead_s"] = (self.trace_overhead_s, "s")
        return m

    def close(self) -> None:
        if hasattr(self, "spark"):  # set-up may have failed before the session
            self.spark.stop()
        os.chdir(self.work)
        shutil.rmtree(self.scratch, ignore_errors=True)
