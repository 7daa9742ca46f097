"""The ``log-write`` workload: the reference logger's own job.

One pass replays a seeded script of LangChain callback events through
``SparkParquetLogger`` (buffer_size=100, the reference default), drains a
backlog of raw-event files with ``stream_to_log``, maps a simulated async LLM
over prompts with ``batch_process``, resumes ``retrieve_with_checkpoint``
from a checkpoint the previous pass half filled, compacts the callback tree
with ``compact_logs`` and runs the reference's documented analysis over it
(``read_log_dataset`` → ``filter_event_types`` → ``payload_field`` token
sums per date).  Apart from the shared checkpoint every pass writes fresh
directories, so each pass does the same work.
"""

from __future__ import annotations

import collections
import datetime as dt
import json
import os
import time
import types
from typing import Any

import numpy as np

from langchain_callback_parquet_logger_spark import ingest, sinks
from langchain_callback_parquet_logger_spark import logger as logger_mod
from langchain_callback_parquet_logger_spark.batchmap import batch_process
from langchain_callback_parquet_logger_spark.checkpoint import retrieve_with_checkpoint
from langchain_callback_parquet_logger_spark.schema import CUSTOM_ID_PREFIX
from langchain_callback_parquet_logger_spark.streaming import ingest as stream_ingest
from pyspark.sql import functions as F
from queryloads import write_tables

EVENT_TYPES = [
    "chain_start", "chain_end", "chain_error", "llm_start", "llm_end",
    "llm_error", "tool_start", "tool_end", "tool_error",
]
WORDS = (
    "the model answer question context token prompt user planner tool search "
    "result summary document retrieve embed rank score cost latency cache "
    "stream batch spark parquet log event chain error retry budget"
).split()
BUFFER_SIZE = 100  # the reference logger's default
SCRIPT_START = dt.datetime(2024, 5, 1, 18, 0, tzinfo=dt.timezone.utc)
SCRIPT_SPAN_S = 3 * 24 * 3600  # events fall on four UTC dates
TOKEN_PATH = "$.data.token_usage.total_tokens"

# The traffic below is assumed, not measured: no public trace of LangChain
# callback traffic gives these rates.  Each is chosen so that every code
# path the checks read is written on every pass, and is kept as simple as
# that allows.
# - Every other chain carries a custom-id tag, so the custom_id column is
#   written both filled and empty.
CUSTOM_ID_EVERY = 2
# - One chain in TOOL_EVERY calls a tool.  One chain in ERROR_EVERY ends
#   in an LLM error, and one tool call in ERROR_EVERY fails, so all nine
#   event types are logged on every pass.
TOOL_EVERY = 3
ERROR_EVERY = 10
# - Text (prompts, responses, tool inputs and outputs) has a lognormal
#   length: a median of TEXT_MEDIAN characters and a long tail up to
#   TEXT_MAX, as LLM payloads are long-tailed.
TEXT_MEDIAN = 200
TEXT_SIGMA = 1.0
TEXT_MAX = 40_000
# - The simulated LLM answers after a fixed LLM_LATENCY_S.  A real call
#   takes seconds; this one is short so that a pass measures the engine's
#   work around the calls rather than the sleep.
LLM_LATENCY_S = 0.02
# Text lengths are drawn from this fixed seed, so every benchmark seed asks
# for the same amount of work; the benchmark seed draws the content (words,
# users, token counts, event times).
SHAPE_SEED = 20240501


class Texts:
    """Long-tailed text: lognormal lengths drawn from ``shape``, words
    drawn from ``rng``."""

    def __init__(self, shape: np.random.Generator, rng: np.random.Generator) -> None:
        self.shape = shape
        self.rng = rng

    def __call__(self) -> str:
        length = self.shape.lognormal(np.log(TEXT_MEDIAN), TEXT_SIGMA)
        n_chars = int(min(TEXT_MAX, max(8, length)))
        words = self.rng.choice(WORDS, size=n_chars // 6 + 1)
        return " ".join(words)[:n_chars]


def make_script(rng: np.random.Generator, n_events: int) -> list[tuple]:
    """Chains of callback events in LangChain's order: chain → llm (→ tool)
    → chain end, with the errors and custom-id tags set out above.  Each
    entry is ``(event_time, method, args, kwargs)``."""
    text = Texts(np.random.default_rng(SHAPE_SEED), rng)
    calls: list[tuple] = []
    chain_no = tool_no = 0
    while len(calls) < n_events:
        chain_no += 1
        chain_id = f"chain-{chain_no:05d}"
        tags = ["perfbench"]
        if chain_no % CUSTOM_ID_EVERY == 0:
            tags.append(f"{CUSTOM_ID_PREFIX}cid-{chain_no:05d}")
        prompt = text()
        base = {"tags": tags, "metadata": {"user": f"u{int(rng.integers(0, 40))}"}}
        child = dict(base, parent_run_id=chain_id)
        calls.append(("on_chain_start", ({"name": "qa_chain"}, {"question": prompt}),
                      dict(base, run_id=chain_id)))
        llm_id = f"{chain_id}-llm"
        calls.append(("on_llm_start", ({"_type": "sim-chat"}, [prompt]),
                      dict(child, run_id=llm_id)))
        failed = chain_no % ERROR_EVERY == ERROR_EVERY // 2
        if failed:
            calls.append(("on_llm_error", (TimeoutError("simulated timeout"),),
                          dict(child, run_id=llm_id)))
        else:
            p_tok = len(prompt) // 4 + 1
            c_tok = int(rng.integers(5, 400))
            usage = {"prompt_tokens": p_tok, "completion_tokens": c_tok,
                     "total_tokens": p_tok + c_tok}
            response = {
                "generations": [[{"text": text(), "message": {
                    "usage_metadata": {"input_tokens": p_tok, "output_tokens": c_tok,
                                       "total_tokens": p_tok + c_tok}}}]],
                "llm_output": {"token_usage": usage},
            }
            calls.append(("on_llm_end", (response,), dict(child, run_id=llm_id)))
        if not failed and chain_no % TOOL_EVERY == 0:
            tool_no += 1
            tool_id = f"{chain_id}-tool"
            calls.append(("on_tool_start", ({"name": "search"}, text()),
                          dict(child, run_id=tool_id)))
            if tool_no % ERROR_EVERY == 0:
                calls.append(("on_tool_error", (RuntimeError("tool failed"),),
                              dict(child, run_id=tool_id)))
            else:
                calls.append(("on_tool_end", (text(),), dict(child, run_id=tool_id)))
        if failed:
            calls.append(("on_chain_error", (TimeoutError("llm failed"),),
                          dict(base, run_id=chain_id)))
        else:
            calls.append(("on_chain_end", ({"answer": "ok"},), dict(base, run_id=chain_id)))
    calls = calls[:n_events]
    gaps = rng.exponential(1.0, len(calls))
    offsets = np.cumsum(gaps) / gaps.sum() * SCRIPT_SPAN_S
    return [
        (SCRIPT_START + dt.timedelta(seconds=float(off)), m, a, kw)
        for off, (m, a, kw) in zip(offsets, calls)
    ]


def expected_rows(script: list[tuple]) -> dict[str, Any]:
    """What a correct engine writes for the script."""
    per_key: collections.Counter = collections.Counter()
    custom: dict[str, str] = {}
    tokens: collections.Counter = collections.Counter()
    for ts, method, args, kw in script:
        event_type = method[3:]
        date = ts.date().isoformat()
        per_key[(date, event_type)] += 1
        cid = next((t[len(CUSTOM_ID_PREFIX):] for t in kw["tags"]
                    if t.startswith(CUSTOM_ID_PREFIX)), "")
        custom[kw["run_id"]] = cid
        if event_type == "llm_end":
            tokens[date] += args[0]["llm_output"]["token_usage"]["total_tokens"]
    return {"per_key": per_key, "custom": custom, "tokens": tokens}


def write_backlog(rng: np.random.Generator, out_dir: str, n_files: int,
                  rows_per_file: int) -> collections.Counter:
    """Raw-event JSON files as a separate producer would drop them."""
    text = Texts(np.random.default_rng(SHAPE_SEED), rng)
    event_types = ["llm_start", "llm_end", "tool_end", "chain_end"]
    os.makedirs(out_dir, exist_ok=True)
    expected: collections.Counter = collections.Counter()
    for f in range(n_files):
        lines = []
        for r in range(rows_per_file):
            ts = SCRIPT_START + dt.timedelta(seconds=float(rng.uniform(0, SCRIPT_SPAN_S)))
            event_type = event_types[r % len(event_types)]
            expected[(ts.date().isoformat(), event_type)] += 1
            lines.append(json.dumps({
                "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
                "run_id": f"raw-{f:03d}-{r:04d}",
                "event_type": event_type,
                "tags": [f"{CUSTOM_ID_PREFIX}raw-{f:03d}"],
                "metadata": {"source": "backlog"},
                "data": json.dumps({"text": text()}),
            }))
        with open(os.path.join(out_dir, f"events-{f:03d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return expected


def make_llm(calls_dir: str):
    """A simulated async LLM: sleeps ``LLM_LATENCY_S`` and answers
    deterministically.  Each invocation appends its id to a per-process
    file, so the benchmark can count invocations made in Python workers."""
    latency_s = LLM_LATENCY_S

    async def llm(row: dict) -> str:
        import asyncio
        import os as _os

        rid = str(row.get("response_id") or row.get("id"))
        await asyncio.sleep(latency_s)
        with open(_os.path.join(calls_dir, f"{_os.getpid()}.log"), "a") as f:
            f.write(rid + "\n")
        return f"answer:{rid}"

    return llm


def read_calls(calls_dir: str) -> list[str]:
    out: list[str] = []
    if os.path.isdir(calls_dir):
        for name in os.listdir(calls_dir):
            with open(os.path.join(calls_dir, name)) as f:
                out.extend(line.strip() for line in f if line.strip())
    return out


def tree_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


class ScriptClock:
    """Stands in for the logger module's ``datetime`` import while a script
    replays, so each event carries its scripted event time and the log
    spans several UTC dates as a long-running app's would."""

    def __init__(self) -> None:
        self.current = SCRIPT_START
        clock = self

        class ScriptedDatetime(dt.datetime):
            @classmethod
            def now(cls, tz=None):
                return clock.current

        self.module = types.SimpleNamespace(
            datetime=ScriptedDatetime, date=dt.date, timezone=dt.timezone
        )


class LogWrite:
    """The log-write workload; sizes are per pass."""

    def __init__(self, events: int = 400, backlog_files: int = 6,
                 backlog_rows: int = 50, prompts: int = 48) -> None:
        self.n_events = events
        self.backlog_files = backlog_files
        self.backlog_rows = backlog_rows
        self.n_prompts = prompts
        self.clock = ScriptClock()

    # -- inputs ---------------------------------------------------------
    def prepare(self, work: str, seed: int) -> dict:
        # The engine's tables are generated only for the noise-floor scan.
        self.data = os.path.join(work, "data")
        write_tables(self.data, seed, 0.001)
        rng = np.random.default_rng(seed)
        self.script = make_script(rng, self.n_events)
        self.expected = expected_rows(self.script)
        self.backlog = os.path.join(work, "backlog")
        self.backlog_expected = write_backlog(
            rng, self.backlog, self.backlog_files, self.backlog_rows
        )
        text = Texts(np.random.default_rng(SHAPE_SEED), rng)
        self.prompts = [(f"p{i:04d}", text()) for i in range(self.n_prompts)]
        self.checkpoint = os.path.join(work, "checkpoint")
        self.passes_run = 0
        payload = sum(len(json.dumps(a, default=str)) for _, _, a, _ in self.script)
        prompts = [a[1][0] for _, m, a, _ in self.script if m == "on_llm_start"]
        dup = collections.Counter(prompts)
        tagged = sum(1 for cid in self.expected["custom"].values() if cid)
        return {
            "events_per_pass": len(self.script),
            "events_per_flush": BUFFER_SIZE,
            "backlog_rows": self.backlog_files * self.backlog_rows,
            "prompts": self.n_prompts,
            "payload_bytes": payload,
            "dates": len({k[0] for k in self.expected["per_key"]}),
            "custom_id_share": tagged / len(self.expected["custom"]),
            "duplicate_prompt_pairs": sum(n * (n - 1) // 2 for n in dup.values()),
        }

    # -- one pass -------------------------------------------------------
    def run_pass(self, spark, pass_dir: str, tracer) -> dict:
        os.makedirs(pass_dir, exist_ok=True)
        log_dir = os.path.join(pass_dir, "log")
        # The client calls that wait on Spark: every handler call that fills
        # the buffer (it flushes), and the closing flush when it has events.
        calls: list[float] = []
        stages: dict[str, float] = {}
        results: dict[str, Any] = {"log_dir": log_dir, "pass_dir": pass_dir}

        saved_dt = logger_mod.dt
        logger_mod.dt = self.clock.module
        try:
            t0 = time.perf_counter()
            log = logger_mod.SparkParquetLogger(
                spark, log_dir, buffer_size=BUFFER_SIZE, event_types=EVENT_TYPES,
                logger_metadata={"app": "perfbench"},
            )
            for n, (ts, method, args, kw) in enumerate(self.script, 1):
                self.clock.current = ts
                c0 = time.perf_counter()
                tracer.call("logger", "capture", getattr(log, method), *args, **kw)
                if n % BUFFER_SIZE == 0:
                    calls.append(time.perf_counter() - c0)
            c0 = time.perf_counter()
            log.flush()
            if len(self.script) % BUFFER_SIZE:
                calls.append(time.perf_counter() - c0)
            stages["callbacks_s"] = time.perf_counter() - t0
        finally:
            logger_mod.dt = saved_dt

        t0 = time.perf_counter()
        query = stream_ingest.stream_to_log(
            stream_ingest.read_event_stream(spark, self.backlog, max_files_per_trigger=3),
            os.path.join(pass_dir, "stream"), os.path.join(pass_dir, "stream-ckpt"),
            event_types=EVENT_TYPES,
        )
        query.awaitTermination()
        stages["stream_s"] = time.perf_counter() - t0

        calls_dir = os.path.join(pass_dir, "calls-batch")
        os.makedirs(calls_dir)
        prompts = spark.createDataFrame(
            self.prompts, "id string, prompt string"
        )
        t0 = time.perf_counter()
        frame, _path, _meta = tracer.call(
            "batchmap", "batch_process", batch_process, prompts, make_llm(calls_dir),
            base_dir=os.path.join(pass_dir, "batch"), max_concurrency=16,
            spark_jobs=True,
        )
        results["batch"] = tracer.call("batchmap", "collect", frame.collect,
                                       spark_jobs=True)
        stages["batch_s"] = time.perf_counter() - t0
        results["batch_calls"] = read_calls(calls_dir)

        # One checkpoint serves every pass: pass k retrieves a window of ids
        # whose first half pass k-1 already completed, so each warm pass
        # resumes with half of its rows checkpointed.
        half = self.n_prompts // 2
        first = self.passes_run * half
        window = [f"r{j:05d}" for j in range(first, first + 2 * half)]
        results["checkpointed"] = set(window[:half]) if first else set()
        results["window"] = window
        cdir = os.path.join(pass_dir, "calls-resume")
        os.makedirs(cdir)
        ids = spark.createDataFrame([(rid,) for rid in window], "response_id string")
        when = dt.datetime(2024, 5, 2, tzinfo=dt.timezone.utc) + dt.timedelta(hours=first)
        t0 = time.perf_counter()
        results["resume"] = tracer.call(
            "checkpoint", "resume",
            lambda: retrieve_with_checkpoint(
                spark, ids, make_llm(cdir), self.checkpoint, when, max_concurrency=16
            ).collect(),
            spark_jobs=True,
        )
        stages["resume_s"] = time.perf_counter() - t0
        results["resume_calls"] = read_calls(cdir)
        self.passes_run += 1

        t0 = time.perf_counter()
        sinks.compact_logs(spark, log_dir)
        stages["compact_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        logs = ingest.read_log_dataset(spark, log_dir)
        ends = ingest.filter_event_types(logs, ["llm_end"])
        results["tokens"] = tracer.call(
            "ingest", "logscan",
            ends.groupBy(F.col("date").cast("string").alias("date")).agg(
                F.sum(ingest.payload_field(F.col("payload"), TOKEN_PATH).cast("long"))
                .alias("tokens")
            ).collect,
            spark_jobs=True,
        )
        stages["logscan_s"] = time.perf_counter() - t0

        # Every handler call and the closing flush, plus stream, batch,
        # resume, compaction and log scan.
        return {"calls": calls, "ops": len(self.script) + 6, "results": results,
                "stages": stages}

    # -- correctness ----------------------------------------------------
    def check_pass(self, record: dict) -> list[str]:
        """Checks on what the pass already returned (no Spark work)."""
        r = record["results"]
        errors = []
        batch = {row["id"]: (row["status"], row["result"]) for row in r["batch"]}
        want = {p[0]: ("ok", f"answer:{p[0]}") for p in self.prompts}
        if batch != want:
            errors.append("batch_process results differ from the simulated answers")
        if sorted(r["batch_calls"]) != sorted(want):
            errors.append("batch_process invoked fn other than once per row")
        done = r["checkpointed"]
        resume = collections.Counter((row["response_id"], row["status"]) for row in r["resume"])
        want_resume = collections.Counter(
            (rid, "already_processed" if rid in done else "ok") for rid in r["window"]
        )
        if resume != want_resume:
            errors.append("resume statuses differ from the checkpoint")
        if set(r["resume_calls"]) & done:
            errors.append("resume invoked fn for a checkpointed id")
        if sorted(r["resume_calls"]) != sorted(set(r["window"]) - done):
            errors.append("resume did not invoke fn once per pending id")
        tokens = {row["date"]: row["tokens"] for row in r["tokens"]}
        if tokens != dict(self.expected["tokens"]):
            errors.append("log scan token sums differ from the script")
        return errors

    def check_tree(self, spark, record: dict) -> list[str]:
        """Read-back of the compacted callback tree and the stream output."""
        r = record["results"]
        errors = []
        logs = spark.read.parquet(r["log_dir"])
        got = _counts_by_date_and_type(logs)
        if got != self.expected["per_key"]:
            errors.append("row counts per (date, event_type) differ from the script")
        bad = logs.filter(
            F.get_json_object("payload", "$.event_type") != F.col("event_type")
        ).count()
        if bad:
            errors.append(f"{bad} payloads disagree with their event_type column")
        pairs = {row["run_id"]: row["custom_id"]
                 for row in logs.select("run_id", "custom_id").distinct().collect()}
        if pairs != self.expected["custom"]:
            errors.append("custom ids did not round-trip")
        dup = logs.groupBy("run_id", "event_type").count().filter("count > 1").count()
        if dup:
            errors.append(f"{dup} (run_id, event_type) rows duplicated after compaction")
        stream = spark.read.parquet(os.path.join(r["pass_dir"], "stream"))
        got_stream = _counts_by_date_and_type(stream)
        if got_stream != self.backlog_expected:
            errors.append("stream_to_log output differs from the backlog")
        return errors

    # -- tracing --------------------------------------------------------
    def install_trace(self, tracer) -> None:
        tracer.wrap(logger_mod.SparkParquetLogger, "flush", "logger", "flush",
                    spark_jobs=True)
        tracer.wrap(logger_mod, "normalize_events", "ingest", "normalize")
        tracer.wrap(stream_ingest, "normalize_events", "ingest", "normalize")
        tracer.wrap(ingest, "read_log_dataset", "ingest", "read")
        tracer.wrap(
            sinks.ParquetSink, "write", "sinks", "write", spark_jobs=True,
            before=lambda args, kw: tree_files(args[0].base_dir),
            after=_write_attrs,
        )
        tracer.wrap(
            sinks, "compact_logs", "sinks", "compact", spark_jobs=True,
            before=lambda args, kw: tree_files(args[1]),
            after=_compact_attrs,
        )

    def layer_metrics(self, record: dict) -> dict:
        """The batch-map counts, which happen in Python workers and so are
        read from the simulated LLM's invocation files, not from spans."""
        r = record["results"]
        invoked = r["batch_calls"] + r["resume_calls"]
        n_ok = sum(1 for rows in (r["batch"], r["resume"])
                   for row in rows if row["status"] == "ok")
        simulated = len(invoked) * LLM_LATENCY_S
        wall = record["stages"]["batch_s"] + record["stages"]["resume_s"]
        return {
            "batchmap.calls": len(invoked),
            "batchmap.ok": n_ok,
            "batchmap.useful_ratio": n_ok / max(1, len(invoked)),
            "batchmap.overlap": simulated / wall,
        }


def _counts_by_date_and_type(frame) -> collections.Counter:
    rows = frame.groupBy(F.col("date").cast("string").alias("date"), "event_type").count()
    return collections.Counter({(r["date"], r["event_type"]): r["count"] for r in rows.collect()})


def _write_attrs(span, args, kwargs, result, before):
    files, size = tree_files(args[0].base_dir)
    span.attrs.update(files=files - before[0], bytes=size - before[1])


def _compact_attrs(span, args, kwargs, result, before):
    files, size = tree_files(args[1])
    span.attrs.update(files_in=before[0], bytes_in=before[1],
                      files_out=files, bytes_out=size)
