"""The ``queries`` workload: closed-loop passes over registered queries,
each checked against its DuckDB oracle.

A query call is ``queries()[name](spark, data_dir)`` (the build, which may
start eager jobs) followed by ``collect()`` (the action); tracked caches are
released after every call, as ``bench.py`` does.
"""

from __future__ import annotations

import collections
import importlib.util
import os
import time

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

import __spark_entry__ as entry
from langchain_callback_parquet_logger_spark.plans import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One query of every operator module, short enough that a warm pass
# repeats within one run.  The read side of the log (the first five) is
# planning-, scheduling- and scan-bound; the curation side (the last five)
# is bound by Arrow kernels, shuffles, caches and eager build jobs.
QUERIES = [
    "q_token_rollup",          # queries: JSON payload rollup
    "q_percentiles",           # analytic
    "q_asof_join",             # temporal
    "q_sql_correlated_scalar",  # sql_surface
    "q_stream_hourly_counts",  # streaming (file stream → memory sink)
    "q_exact_dedup",           # dedup
    "q_label_propagation",     # graph: MinHash pairs, checkpointed LPA iterations
    "q_knn_bruteforce",        # similarity: Arrow dot-product kernel
    "q_tfidf_top_terms",       # text
    "q_corpus_clean",          # pipeline
]
# make_testdata's scale.  At it a run of four passes fits the benchmark's
# time budget, and the log-side queries (0.2–1 s each) still take about
# three quarters of their time at sf0.01: fixed per-job costs dominate.
SF = 0.001


def module_of(fn) -> str:
    """Layer name of a query function: its operator module, or ``streaming``."""
    parts = fn.__module__.split(".")
    return "streaming" if "streaming" in parts else parts[-1]


def load_tool(name: str):
    """Import ``tools/<name>.py``; ``tools`` is not a package."""
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_tables(data_dir: str, seed: int, sf: float) -> dict:
    """Generate the seeded tables with tools/make_testdata.py and describe
    them: rows and bytes per table, event dates, duplicate document pairs."""
    mt = load_tool("make_testdata")
    mt.SEED = seed
    mt.write_dir(data_dir, sf)
    props: dict = {"sf": sf, "rows": {}, "bytes": {}}
    for name in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, name)
        table = name.rsplit(".", 1)[0]
        props["rows"][table] = pq.read_metadata(path).num_rows
        props["bytes"][table] = os.path.getsize(path)
    ts = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=["ts"])["ts"]
    props["event_dates"] = len(pc.unique(pc.cast(ts, "date32")))
    text = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    counts = collections.Counter(text["text"].to_pylist())
    props["duplicate_doc_pairs"] = sum(n * (n - 1) // 2 for n in counts.values())
    return props


class QueryWorkload:
    """Passes over ``queries`` on make_testdata tables at scale ``sf``."""

    def __init__(self, queries: list[str], sf: float) -> None:
        self.queries = queries
        self.sf = sf

    def prepare(self, work: str, seed: int) -> dict:
        self.data = os.path.join(work, "data")
        props = write_tables(self.data, seed, self.sf)
        registry = entry.queries()
        self.registry = {q: registry[q] for q in self.queries}
        self.oracles = entry.oracle_sql()
        self.modules = {q: module_of(fn) for q, fn in self.registry.items()}
        self._canon = load_tool("check_oracle")._canon
        self._expected: dict[str, tuple] = {}
        props["queries"] = len(self.queries)
        return props

    def run_pass(self, spark, pass_dir: str, tracer) -> dict:
        calls: list[float] = []
        stages: dict[str, float] = {}
        results = []
        for name in self.queries:
            layer = self.modules[name]
            t0 = time.perf_counter()
            try:
                frame = tracer.call(layer, f"build:{name}", self.registry[name],
                                    spark, self.data, spark_jobs=True)
                rows = tracer.call(layer, f"run:{name}", frame.collect, spark_jobs=True)
                calls.append(time.perf_counter() - t0)
                stages[name] = calls[-1]
                results.append((name, frame.columns, rows))
            except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
                results.append((name, None, f"{type(e).__name__}: {e}"))
            finally:
                tracer.call("session", "release", session.release_caches)
        return {"calls": calls, "ops": len(self.queries), "results": results,
                "stages": stages}

    def expected(self, name: str) -> tuple:
        if name not in self._expected:
            con = duckdb.connect()
            for table in session.TABLES:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            res = con.execute(self.oracles[name])
            cols = [d[0] for d in res.description]
            self._expected[name] = (sorted(cols), self._canon(res.fetchall(), cols))
            con.close()
        return self._expected[name]

    def check_pass(self, record: dict) -> list[str]:
        errors = []
        for name, cols, rows in record["results"]:
            if cols is None:
                errors.append(f"{name}: {rows}")
                continue
            want_cols, want_rows = self.expected(name)
            got = self._canon([tuple(r) for r in rows], cols)
            if sorted(cols) != want_cols or got != want_rows:
                errors.append(f"{name}: result differs from its DuckDB oracle")
        return errors

    def check_tree(self, spark, record: dict) -> list[str]:
        return []

    def install_trace(self, tracer) -> None:
        """Query calls are spanned where the benchmark makes them."""

    def layer_metrics(self, record: dict) -> dict:
        return {}
