"""Self-test of the benchmark, run from the repository root:

    python3 perfbench/selftest.py

1. Every workload at a tiny size, untraced and traced: the run must be
   correct and print every metric named in BENCHMARK.json with its unit.
2. One corrupted result row, in a query workload and in log-write: the run
   must count it as a failure instead of reporting success.
3. BENCHMARK.json names exactly the metrics run.py and layers.py emit.

Exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import logwrite  # noqa: E402
import queryloads  # noqa: E402
import run  # noqa: E402


def tiny(name: str):
    if name == "log-write":
        return logwrite.LogWrite(events=120, backlog_files=2, backlog_rows=10, prompts=8)
    return queryloads.QueryWorkload(
        ["q_token_rollup", "q_stream_hourly_counts", "q_exact_dedup", "q_tfidf_top_terms"],
        sf=queryloads.SF,
    )


def expect(cond: bool, message: str) -> None:
    if not cond:
        print(f"selftest: FAIL {message}", flush=True)
        sys.exit(1)
    print(f"selftest: ok   {message}", flush=True)


def check_catalog(spec: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    expect(e2e == dict(run.END_TO_END), "BENCHMARK.json end_to_end matches run.END_TO_END")
    per = {m["name"]: m["unit"] for m in spec["per_layer"]}
    expect(per == layers.UNITS, "BENCHMARK.json per_layer matches layers.PER_LAYER")
    expect([w["name"] for w in spec["workloads"]] == list(run.WORKLOADS),
           "BENCHMARK.json workloads match run.WORKLOADS")


def check_metrics(spec: dict) -> None:
    for name in run.WORKLOADS:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            result = run.run(name, seed=7, seconds=1, trace=trace, workload=tiny(name))
            print(f"selftest: {name} trace={int(trace)} " + " ".join(
                f"{k}={v['value']:.6g}{v['unit']}" for k, v in result["metrics"].items()))
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(result["correct"] and result["failed"] == 0,
                   f"{name} trace={int(trace)} is correct")
            expect(got == want, f"{name} trace={int(trace)} prints every {key} metric")


def check_corruption() -> None:
    workload = tiny("queries")
    real_prepare = workload.prepare

    def prepare(work, seed):
        props = real_prepare(work, seed)
        query = workload.registry["q_token_rollup"]
        # One extra row: a duplicate of the first result row.
        workload.registry["q_token_rollup"] = (
            lambda spark, d: (lambda df: df.unionByName(df.limit(1)))(query(spark, d))
        )
        return props

    workload.prepare = prepare
    result = run.run("queries", seed=7, seconds=1, trace=False, workload=workload)
    expect(not result["correct"] and result["failed"] >= 1,
           f"a corrupted query row is counted ({result['failed']} failed "
           f"of {result['attempted']})")

    from langchain_callback_parquet_logger_spark import sinks

    real_write = sinks.ParquetSink.write

    def write_one_row_twice(self, df):
        return real_write(self, df.unionByName(df.limit(1)))

    sinks.ParquetSink.write = write_one_row_twice
    try:
        result = run.run("log-write", seed=7, seconds=1, trace=False, workload=tiny("log-write"))
    finally:
        sinks.ParquetSink.write = real_write
    expect(not result["correct"] and result["failed"] >= 1,
           f"a duplicated log row is counted ({result['failed']} failed "
           f"of {result['attempted']})")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_catalog(spec)
    check_metrics(spec)
    check_corruption()
    print("selftest: all passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
