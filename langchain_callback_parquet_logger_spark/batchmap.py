"""D1/D2/D3 — bounded-concurrency async map over DataFrame rows.

The reference's ``batch_run`` (batch.py:20-132 in /root/reference) maps an
async LLM call over every row of a pandas DataFrame with
``max_concurrency`` in-flight coroutines, returning results in input order
and capturing per-row exceptions as values instead of aborting
(tests/test_batch.py:130-199 pin the semantics).

Spark realization (SURVEY.md §3.2): ``mapInPandas`` with one asyncio event
loop per partition and a per-partition semaphore. This is the engine's one
genuinely custom physical operator — Spark has no native async row map.

Semantics preserved from the reference:
- concurrency ceiling: ≤ ``max_concurrency`` coroutines in flight *per
  partition* (total = partitions × max_concurrency; callers wanting the
  reference's single-process ceiling use ``repartition(1)`` or set
  ``target_partitions``). ``batch_process`` and ``retrieve_with_checkpoint``
  deal a small input's rows out over ``ceil(rows / max_concurrency)``
  partitions of at most ``max_concurrency`` rows each, so every row is in
  flight in one wave on the fewest Python tasks; partitions are never added,
  so at scale the input's partitioning stands. Both return *materialized*
  results (executor-held local checkpoints): ``fn`` runs once per row
  however many actions the caller takes;
- order: results carry the row id — reattachment is an equi join on id
  (J3), never positional;
- errors: ``return_exceptions=True`` turns a raised exception into
  ``status='error', error=str(e)`` on that row (D2); ``False`` propagates
  and fails the task (Spark then retries it — keep the default for LLM
  workloads);
- retry/backoff/timeout (D6): per-call timeout, exponential backoff with
  rate-limit jitter, 5xx-retry / 4xx-fail-fast — all inside the map
  function where they belong (never in the query plan).

100 TB framing: no driver-side loops, no collect; the input stays
partitioned, each executor runs its own event loop, and memory is bounded
by (arrow batch size × row width), not the dataset.
"""

from __future__ import annotations

import asyncio
import itertools
import math
import random
import time
from dataclasses import dataclass, field
from typing import Any, Awaitable, Callable, Iterable, Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RowFn = Callable[[dict], Awaitable[Any]]

RESULT_COLUMNS = ("result", "status", "error")


@dataclass(frozen=True)
class RateLimitConfig:
    """Rate-limit-header-driven backoff (reference
    background_retrieval.py:125-126, 161-167, 177-184, 229-235).

    Two cooperating mechanisms, mirroring the reference:
    - **header budget**: successful responses may expose
      ``x-ratelimit-remaining-requests`` / ``x-ratelimit-reset-after``
      headers; when the remaining budget hits 0, subsequent calls on the
      same event loop SLEEP until the advertised reset instant instead of
      burning attempts on guaranteed 429s.
    - **429 backoff**: an exception classified by ``is_rate_limited`` is
      always retried (even when ``RetryConfig.retryable`` says no) with
      capped exponential backoff plus 0-10% jitter
      (``min(cap, base^attempt * (1 + jitter()*0.1))``).
    """

    initial_remaining: int = 50  # the reference seeds this with batch_size
    remaining_header: str = "x-ratelimit-remaining-requests"
    reset_after_header: str = "x-ratelimit-reset-after"
    # 429 analog: OpenAI raises openai.RateLimitError; structural match on
    # the type name / status attr keeps this SDK-agnostic.
    is_rate_limited: Callable[[BaseException], bool] = field(
        default=lambda e: type(e).__name__ == "RateLimitError"
        or getattr(e, "status_code", None) == 429
    )
    jitter: Callable[[], float] = field(default=random.random)


class RateLimitState:
    """Mutable budget shared by every coroutine on one event loop — the
    Spark analog of the reference's nonlocal ``rate_limit_remaining`` /
    ``rate_limit_reset`` (one per partition here, one per process there).
    ``clock`` is injectable for deterministic tests."""

    def __init__(self, cfg: RateLimitConfig, clock: Callable[[], float] = time.time):
        self.cfg = cfg
        self.clock = clock
        self.remaining = cfg.initial_remaining
        self.reset_at = 0.0

    async def wait_if_exhausted(self, sleep=asyncio.sleep) -> None:
        now = self.clock()
        if self.remaining <= 0 and now < self.reset_at:
            await sleep(self.reset_at - now)

    def observe(self, response: Any) -> None:
        headers = getattr(response, "headers", None)
        if not headers:
            return
        remaining = headers.get(self.cfg.remaining_header)
        if remaining is not None:
            self.remaining = int(remaining)
        reset_after = headers.get(self.cfg.reset_after_header)
        if reset_after is not None:
            self.reset_at = self.clock() + float(reset_after)


@dataclass(frozen=True)
class ColumnConfig:
    """Column-name remapping (reference config.py:85-90): which input
    columns play prompt/config/tools, and which column is the row id."""

    id: str = "id"
    prompt: str = "prompt"
    config: str = "config"
    tools: str = "tools"


@dataclass(frozen=True)
class RetryConfig:
    """D6 knobs (reference background_retrieval.py:36-38,161-248)."""

    max_retries: int = 3
    timeout: float = 30.0
    backoff_base: float = 2.0
    backoff_cap: float = 60.0
    # exception predicate: True → retryable (the 5xx analog);
    # False → fail fast (the 4xx analog)
    retryable: Callable[[BaseException], bool] = field(
        default=lambda e: isinstance(e, (TimeoutError, ConnectionError, OSError))
    )
    # header-driven adaptive backoff; None keeps the plain exponential path
    rate_limit: RateLimitConfig | None = None


async def _call_with_retry(
    fn: RowFn,
    row: dict,
    retry: RetryConfig,
    sleep=asyncio.sleep,
    rate_limit: RateLimitState | None = None,
) -> Any:
    attempt = 0
    while True:
        try:
            if rate_limit is not None:
                await rate_limit.wait_if_exhausted(sleep)
            value = await asyncio.wait_for(fn(row), timeout=retry.timeout)
            if rate_limit is not None:
                rate_limit.observe(value)
            return value
        except BaseException as e:  # noqa: BLE001 — classified below
            limited = rate_limit is not None and rate_limit.cfg.is_rate_limited(e)
            if attempt >= retry.max_retries or not (limited or retry.retryable(e)):
                raise
            if limited:
                # reference background_retrieval.py:231-234: capped
                # exponential with 0-10% jitter on rate-limit errors
                delay = min(
                    retry.backoff_cap,
                    (retry.backoff_base**attempt)
                    * (1 + rate_limit.cfg.jitter() * 0.1),
                )
            else:
                delay = min(retry.backoff_cap, retry.backoff_base**attempt)
            await sleep(delay)
            attempt += 1


def batch_run(
    df: DataFrame,
    fn: RowFn,
    max_concurrency: int = 10,
    columns: ColumnConfig = ColumnConfig(),
    return_exceptions: bool = True,
    retry: RetryConfig | None = None,
    target_partitions: int | None = None,
    return_results: bool = True,
) -> DataFrame:
    """Async-map ``fn`` over rows; returns (id, result, status, error).

    ``fn`` receives a plain dict of the row's columns (prompt/config/tools
    plus anything else present) and returns any JSON-stringifiable value.
    ``return_results=False`` mirrors the reference's discard mode
    (batch.py:109-132): only (id, status, error) come back — results are
    dropped executor-side, never materialized.
    """
    id_col = columns.id
    if id_col not in df.columns:
        raise ValueError(f"missing required id column {id_col!r}")
    if columns.prompt not in df.columns:
        # P7 — required-column validation (reference batch.py:191-193)
        raise ValueError(f"missing required prompt column {columns.prompt!r}")

    if target_partitions:
        df = df.repartition(target_partitions)

    out_fields = f"`{id_col}` string, result string, status string, error string"
    retry_cfg = retry

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        async def run_batch(rows: list[dict]) -> list[tuple]:
            sem = asyncio.Semaphore(max_concurrency)
            # One rate-limit budget per event loop — shared by every
            # coroutine in this partition, like the reference's per-process
            # nonlocal state (background_retrieval.py:125-126).
            rl_state = (
                RateLimitState(retry_cfg.rate_limit)
                if retry_cfg is not None and retry_cfg.rate_limit is not None
                else None
            )

            async def one(row: dict) -> tuple:
                rid = str(row.get(id_col, ""))
                try:
                    async with sem:
                        if retry_cfg is not None:
                            value = await _call_with_retry(
                                fn, row, retry_cfg, rate_limit=rl_state
                            )
                        else:
                            value = await fn(row)
                    res = "" if value is None else str(value)
                    return (rid, res if return_results else None, "ok", None)
                except BaseException as e:  # noqa: BLE001 — D2 exception-as-row
                    if not return_exceptions:
                        raise
                    return (rid, None, "error", f"{type(e).__name__}: {e}")

            return await asyncio.gather(*[one(r) for r in rows])

        for pdf in batches:
            rows = pdf.to_dict("records")
            if not rows:
                continue
            results = asyncio.run(run_batch(rows))
            yield pd.DataFrame(results, columns=[id_col, *RESULT_COLUMNS])

    return df.mapInPandas(_map, schema=out_fields)


def attach_results(
    input_df: DataFrame, results_df: DataFrame, columns: ColumnConfig = ColumnConfig()
) -> DataFrame:
    """J3 — reattach results to inputs by id (never positionally)."""
    rid = F.col(columns.id).cast("string").alias(columns.id)
    keyed = input_df.withColumn(columns.id, rid)
    return keyed.join(results_df, columns.id, "left")


async def _default_noop(row: dict) -> str:  # pragma: no cover
    return ""


def _map_once(
    df: DataFrame,
    fn: RowFn,
    max_concurrency: int,
    columns: ColumnConfig,
    retry: RetryConfig | None,
) -> tuple[DataFrame, int]:
    """Run ``batch_run`` over a materialized input as one concurrency wave,
    materialize its results, and return them with the input's row count.

    Each Python worker task has a fixed start-up cost, so the input is spread
    over the fewest partitions that still put every row in flight at once:
    ``ceil(rows / max_concurrency)``, each holding at most ``max_concurrency``
    rows. Rows are dealt out by their position in the input (a JVM shuffle,
    no Python task), not by merging whole partitions, which could stack more
    rows in one partition than its semaphore admits. Partitions are never
    added: an input already narrower than that keeps its own partitioning.

    The results are a ``localCheckpoint``: they live in executor storage and
    cannot be recomputed if an executor holding them is lost."""
    counts = dict(df.groupBy(F.spark_partition_id()).count().collect())
    sizes = [counts.get(p, 0) for p in range(df.rdd.getNumPartitions())]
    n_rows = sum(sizes)
    parts = max(1, math.ceil(n_rows / max_concurrency))
    if parts < len(sizes):
        # global row position = rows in earlier partitions + position in
        # this one (the low 33 bits of monotonically_increasing_id)
        offsets = list(itertools.accumulate(sizes, initial=0))[:-1]
        start = F.element_at(
            F.array(*map(F.lit, offsets)), F.spark_partition_id() + 1
        )
        position = start + F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        target = "__map_partition"
        df = (
            df.withColumn(target, (position % parts).cast("int"))
            .repartitionById(parts, target)
            .drop(target)
        )
    results = batch_run(
        df, fn, max_concurrency=max_concurrency, columns=columns, retry=retry
    )
    return results.localCheckpoint(eager=True), n_rows


def batch_process(
    df: DataFrame,
    fn: RowFn,
    base_dir: str,
    job_category: str = "uncategorized",
    job_subcategory: str = "unsubcategorized",
    job_version: str | None = None,
    max_concurrency: int = 100,
    columns: ColumnConfig = ColumnConfig(),
    retry: RetryConfig | None = None,
    extra_metadata: Mapping[str, Any] | None = None,
    started_at: str | None = None,
) -> tuple[DataFrame, str, dict]:
    """D3 — job orchestration (reference batch.py:135-294): defaults →
    validate → template output path → build job-metadata JSON → run the
    async map → return (results frame, output path, metadata).

    The input is read once and the results frame is materialized, so ``fn``
    has run exactly once per row when this returns. Both are
    ``localCheckpoint``s held in executor storage: if an executor is lost
    before the caller reads the results, they cannot be recomputed.

    The metadata dict mirrors the reference's flat legacy fields + nested
    batch_config (batch.py:226-254); ``started_at`` comes in as data (no
    wall-clock reads inside plans)."""
    from .sinks import render_output_path, sanitize_version

    out_path = render_output_path(base_dir, job_category, job_subcategory, job_version)
    results, n_rows = _map_once(
        df.localCheckpoint(eager=True), fn, max_concurrency, columns, retry
    )
    metadata = {
        "job_category": job_category,
        "job_subcategory": job_subcategory,
        "job_version": job_version or "unversioned",
        "job_version_safe": sanitize_version(job_version),
        "batch_size": n_rows,  # A2 — batch-size counting (reference batch.py:251)
        "batch_config": {
            "max_concurrency": max_concurrency,
            "column_config": {
                "id": columns.id,
                "prompt": columns.prompt,
                "config": columns.config,
                "tools": columns.tools,
            },
        },
        **({"batch_started_at": started_at} if started_at else {}),
        **dict(extra_metadata or {}),
    }
    return results, out_path, metadata
