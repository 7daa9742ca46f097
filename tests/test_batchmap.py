"""Batch-map semantics pinned by the reference's test_batch.py /
test_background_retrieval.py (SURVEY.md §5): result completeness by id,
exception-as-value, concurrency ceiling, empty input, custom column names,
retry/backoff, checkpoint resume skipping processed rows."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.batchmap import (
    ColumnConfig,
    RateLimitConfig,
    RateLimitState,
    RetryConfig,
    _call_with_retry,
    attach_results,
    batch_process,
    batch_run,
)
from langchain_callback_parquet_logger_spark.checkpoint import (
    checkpoint_entries,
    dedup_keep_last,
    filter_unprocessed,
    load_checkpoint,
    retrieve_with_checkpoint,
    save_checkpoint,
)

UTC = dt.timezone.utc


@pytest.fixture()
def input_df(spark):
    return spark.createDataFrame(
        [(i, f"prompt-{i}", "cat") for i in range(20)], "id long, prompt string, category string"
    )


async def _echo(row: dict) -> str:
    return f"echo:{row['prompt']}"


def test_results_complete_by_id(spark, input_df):
    out = batch_run(input_df, _echo, max_concurrency=4).collect()
    assert len(out) == 20
    by_id = {r.id: r for r in out}
    assert by_id["7"].result == "echo:prompt-7"
    assert all(r.status == "ok" and r.error is None for r in out)


def test_exception_as_row(spark, input_df):
    async def flaky(row: dict) -> str:
        if row["id"] % 5 == 0:
            raise ValueError(f"bad {row['id']}")
        return "ok"

    out = batch_run(input_df, flaky).collect()
    errs = {r.id for r in out if r.status == "error"}
    assert errs == {"0", "5", "10", "15"}
    err_row = next(r for r in out if r.id == "5")
    assert "ValueError: bad 5" in err_row.error
    assert err_row.result is None


def test_exceptions_propagate_when_disabled(spark, input_df):
    async def boom(row: dict) -> str:
        raise RuntimeError("kaboom")

    with pytest.raises(Exception, match="kaboom"):
        batch_run(input_df, boom, return_exceptions=False).collect()


def test_concurrency_ceiling_measured(spark, input_df):
    """The reference measures ≤ max_concurrency in flight
    (tests/test_batch.py:164-199). With a single partition the per-partition
    semaphore IS the global ceiling."""
    import asyncio

    async def tracked(row: dict) -> str:
        tracked.active += 1
        tracked.peak = max(tracked.peak, tracked.active)
        await asyncio.sleep(0.02)
        tracked.active -= 1
        return str(tracked.peak)

    tracked.active = 0
    tracked.peak = 0

    out = batch_run(
        input_df, tracked, max_concurrency=3, target_partitions=1
    ).collect()
    peaks = {int(r.result) for r in out}
    assert max(peaks) <= 3
    assert max(peaks) >= 2  # genuinely concurrent, not serialized


def test_empty_input(spark):
    empty = spark.createDataFrame([], "id long, prompt string")
    assert batch_run(empty, _echo).count() == 0


def test_custom_column_names(spark):
    df = spark.createDataFrame([(1, "hi")], "row_key long, text string")
    cols = ColumnConfig(id="row_key", prompt="text")
    out = batch_run(df, _echo_text, columns=cols).collect()
    assert out[0].row_key == "1" and out[0].result == "echo:hi"


async def _echo_text(row: dict) -> str:
    return f"echo:{row['text']}"


def test_missing_prompt_column_raises(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="prompt"):
        batch_run(df, _echo)


def test_return_results_false_drops_values(spark, input_df):
    out = batch_run(input_df, _echo, return_results=False).collect()
    assert all(r.result is None for r in out)
    assert all(r.status == "ok" for r in out)


def test_attach_results_is_id_join(spark, input_df):
    results = batch_run(input_df, _echo)
    joined = attach_results(input_df, results)
    assert joined.count() == 20
    row = joined.filter(F.col("id") == "3").collect()[0]
    assert row.prompt == "prompt-3" and row.result == "echo:prompt-3"


# --- retry / backoff (D6) ---


def test_retry_then_success():
    import asyncio

    calls = {"n": 0}

    async def sometimes(row: dict) -> str:
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("flap")
        return "done"

    sleeps: list[float] = []

    async def fake_sleep(s: float) -> None:
        sleeps.append(s)

    out = asyncio.run(
        _call_with_retry(sometimes, {}, RetryConfig(max_retries=3), sleep=fake_sleep)
    )
    assert out == "done"
    assert sleeps == [1.0, 2.0]  # 2**0, 2**1 exponential backoff


def test_retry_fail_fast_on_non_retryable():
    import asyncio

    async def bad_request(row: dict) -> str:
        raise ValueError("4xx analog")

    with pytest.raises(ValueError):
        asyncio.run(_call_with_retry(bad_request, {}, RetryConfig(), sleep=None))


def test_retry_exhausts():
    import asyncio

    async def always_down(row: dict) -> str:
        raise ConnectionError("5xx analog")

    async def fake_sleep(s: float) -> None:
        pass

    with pytest.raises(ConnectionError):
        asyncio.run(
            _call_with_retry(always_down, {}, RetryConfig(max_retries=2), sleep=fake_sleep)
        )


# --- rate-limit-header-driven backoff (D6 parity with reference
# background_retrieval.py:125-126,161-184,229-235; scenarios mirror
# reference tests/test_background_retrieval.py:84-151) ---


class FakeRateLimitError(Exception):
    """Matched structurally via status_code (the openai.RateLimitError
    analog; the SDK is not installed in this container)."""

    status_code = 429


def test_rate_limit_error_retried_with_jittered_backoff():
    import asyncio

    calls = {"n": 0}

    async def limited_then_ok(row: dict) -> str:
        calls["n"] += 1
        if calls["n"] == 1:
            raise FakeRateLimitError("Rate limit exceeded")
        return "done"

    sleeps: list[float] = []

    async def fake_sleep(s: float) -> None:
        sleeps.append(s)

    cfg = RetryConfig(
        max_retries=3,
        # jitter pinned to 1.0 → delay = base**attempt * 1.1 exactly
        rate_limit=RateLimitConfig(jitter=lambda: 1.0),
        # NOT in retryable: only the rate-limit classification may retry it
        retryable=lambda e: False,
    )
    out = asyncio.run(
        _call_with_retry(
            limited_then_ok, {}, cfg, sleep=fake_sleep,
            rate_limit=RateLimitState(cfg.rate_limit),
        )
    )
    assert out == "done"
    assert sleeps == [1.1]  # 2**0 * (1 + 1.0*0.1)


def test_rate_limit_backoff_capped():
    import asyncio

    async def always_limited(row: dict) -> str:
        raise FakeRateLimitError("Rate limit exceeded")

    sleeps: list[float] = []

    async def fake_sleep(s: float) -> None:
        sleeps.append(s)

    cfg = RetryConfig(
        max_retries=8, backoff_cap=60.0,
        rate_limit=RateLimitConfig(jitter=lambda: 0.0),
    )
    with pytest.raises(FakeRateLimitError):
        asyncio.run(
            _call_with_retry(
                always_limited, {}, cfg, sleep=fake_sleep,
                rate_limit=RateLimitState(cfg.rate_limit),
            )
        )
    assert sleeps == [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 60.0, 60.0]  # min(60, 2**n)


def test_rate_limit_headers_pause_until_reset():
    """A response advertising a drained budget pauses the NEXT call until
    the advertised reset instant (reference background_retrieval.py:161-167,
    177-184)."""
    import asyncio

    class Resp:
        def __init__(self, remaining, reset_after):
            self.headers = {
                "x-ratelimit-remaining-requests": str(remaining),
                "x-ratelimit-reset-after": str(reset_after),
            }

    now = {"t": 1000.0}
    sleeps: list[float] = []

    async def fake_sleep(s: float) -> None:
        sleeps.append(s)
        now["t"] += s  # sleeping advances the clock to the reset instant

    async def drained(row: dict):
        return Resp(remaining=0, reset_after=7.5)

    cfg = RetryConfig(rate_limit=RateLimitConfig())
    state = RateLimitState(cfg.rate_limit, clock=lambda: now["t"])

    asyncio.run(_call_with_retry(drained, {}, cfg, sleep=fake_sleep, rate_limit=state))
    assert state.remaining == 0 and state.reset_at == 1007.5
    assert sleeps == []  # first call never waits

    asyncio.run(_call_with_retry(drained, {}, cfg, sleep=fake_sleep, rate_limit=state))
    assert sleeps == [7.5]  # second call waited out the advertised window


def test_rate_limit_state_shared_in_batch_run(spark, input_df):
    """End-to-end through mapInPandas: per-partition budget state engages
    and every row still completes."""
    async def ok(row: dict) -> str:
        return f"echo:{row['prompt']}"

    out = batch_run(
        input_df.repartition(1),
        ok,
        max_concurrency=4,
        retry=RetryConfig(rate_limit=RateLimitConfig(initial_remaining=3)),
    ).collect()
    assert len(out) == 20
    assert all(r.status == "ok" for r in out)


# --- checkpoint / resume (D7, S11) ---


def test_checkpoint_roundtrip_and_keep_last(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    t1 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    t2 = dt.datetime(2024, 1, 2, tzinfo=UTC)
    first = spark.createDataFrame(
        [("a", False, "err1", t1), ("b", True, None, t1)],
        "response_id string, processed boolean, error string, updated_at timestamp",
    )
    save_checkpoint(spark, path, first)
    second = spark.createDataFrame(
        [("a", True, None, t2)],
        "response_id string, processed boolean, error string, updated_at timestamp",
    )
    save_checkpoint(spark, path, second)
    back = {r.response_id: r for r in load_checkpoint(spark, path).collect()}
    assert len(back) == 2
    assert back["a"].processed is True and back["a"].error is None  # keep-LAST won
    assert back["b"].processed is True


def test_load_checkpoint_missing_path(spark, tmp_path):
    df = load_checkpoint(spark, str(tmp_path / "nope"))
    assert df.count() == 0
    assert "response_id" in df.columns


def test_filter_unprocessed(spark, tmp_path):
    t = dt.datetime(2024, 1, 1, tzinfo=UTC)
    ckpt = spark.createDataFrame(
        [("1", True, None, t), ("2", False, "e", t)],
        "response_id string, processed boolean, error string, updated_at timestamp",
    )
    df = spark.createDataFrame([("1",), ("2",), ("3",)], "response_id string")
    left = {r.response_id for r in filter_unprocessed(df, ckpt).collect()}
    assert left == {"2", "3"}  # failed rows are retried, processed are skipped
    twice = ckpt.unionByName(ckpt)  # a duplicated id cannot duplicate a row
    assert sorted(r.response_id for r in filter_unprocessed(df, twice).collect()) == [
        "2", "3"
    ]


def test_retrieve_with_checkpoint_resume(spark, tmp_path):
    """Second run skips rows processed in the first
    (reference test_background_retrieval.py:152-180)."""
    path = str(tmp_path / "ckpt2")
    df = spark.createDataFrame(
        [(str(i),) for i in range(10)], "response_id string"
    )
    calls_log = str(tmp_path / "calls")

    async def record_and_ok(row: dict) -> str:
        # executor-side: append a marker file per call
        import os
        import uuid

        os.makedirs(calls_log, exist_ok=True)
        with open(f"{calls_log}/{row['response_id']}_{uuid.uuid4().hex}", "w"):
            pass
        return f"resp-{row['response_id']}"

    t1 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    out1 = retrieve_with_checkpoint(spark, df, record_and_ok, path, t1)
    assert out1.filter(F.col("status") == "ok").count() == 10

    import os

    first_calls = len(os.listdir(calls_log))
    assert first_calls == 10

    t2 = dt.datetime(2024, 1, 2, tzinfo=UTC)
    out2 = retrieve_with_checkpoint(spark, df, record_and_ok, path, t2)
    stat = {r.status for r in out2.collect()}
    assert stat == {"already_processed"}
    assert len(os.listdir(calls_log)) == first_calls  # fn not re-invoked


def _call_recorder(calls_dir: str, id_col: str):
    """Async row fn that leaves one marker file per invocation (executor-side)."""

    async def record(row: dict) -> str:
        import os
        import uuid

        os.makedirs(calls_dir, exist_ok=True)
        with open(f"{calls_dir}/{row[id_col]}_{uuid.uuid4().hex}", "w"):
            pass
        return f"resp-{row[id_col]}"

    return record


def _calls(calls_dir: str) -> list[str]:
    import os

    if not os.path.isdir(calls_dir):
        return []
    return sorted(name.split("_")[0] for name in os.listdir(calls_dir))


def test_batch_process_invokes_fn_once_per_row(spark, tmp_path):
    """The returned frame is materialized: two actions on it do not re-run
    the async map."""
    calls = str(tmp_path / "calls")
    df = spark.createDataFrame([(str(i), f"p{i}") for i in range(10)], "id string, prompt string")
    frame, _, meta = batch_process(df, _call_recorder(calls, "id"), str(tmp_path / "out"))
    assert meta["batch_size"] == 10
    assert len(frame.collect()) == 10
    assert {r.id: r.result for r in frame.collect()} == {str(i): f"resp-{i}" for i in range(10)}
    assert _calls(calls) == sorted(str(i) for i in range(10))


def _partition_sizes(df) -> list[int]:
    return sorted(
        r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()
    )


@pytest.mark.parametrize(
    "n_rows, max_concurrency, want_sizes",
    [
        # ceil(10 / 4) = 3 partitions, none holding more rows than its
        # semaphore admits
        (10, 4, [3, 3, 4]),
        (10, 100, [10]),  # every row fits one event loop
        # 4 x 12 rows: merging whole partitions would stack 24 rows in one
        (48, 16, [16, 16, 16]),
        (10, 2, None),  # ceil(10 / 2) = 5 > 4: the input's partitions stand
    ],
)
def test_batch_process_sizes_partitions_to_one_wave(
    spark, tmp_path, n_rows, max_concurrency, want_sizes
):
    df = spark.createDataFrame(
        [(str(i), f"p{i}") for i in range(n_rows)], "id string, prompt string"
    ).repartition(4)
    frame, _, meta = batch_process(
        df, _echo, str(tmp_path / "out"), max_concurrency=max_concurrency
    )
    # batch_run keeps one result row per input row in its partition, so the
    # result partitions are the map's input partitions
    want = want_sizes or _partition_sizes(df)
    assert _partition_sizes(frame) == want
    assert frame.rdd.getNumPartitions() == len(want)
    assert meta["batch_size"] == n_rows
    assert sorted(r.id for r in frame.collect()) == sorted(
        str(i) for i in range(n_rows)
    )


async def _echo_id(row: dict) -> str:
    return f"resp-{row['response_id']}"


def test_retrieve_with_checkpoint_one_wave(spark, tmp_path):
    """The resume's pending rows are dealt out like batch_process's input:
    with every third of 48 ids processed, 8 ids are pending in each of 4
    partitions; ceil(32 / 11) = 3 map partitions, none over 11 rows."""
    path = str(tmp_path / "ckpt")
    t = dt.datetime(2024, 1, 1, tzinfo=UTC)
    spark.createDataFrame(
        [(str(i), True, None, t) for i in range(0, 48, 3)],
        "response_id string, processed boolean, error string, updated_at timestamp",
    ).write.parquet(path)
    df = spark.createDataFrame(
        [(str(i),) for i in range(48)], "response_id string"
    ).repartitionByRange(4, F.col("response_id").cast("int"))
    out = retrieve_with_checkpoint(spark, df, _echo_id, path, t, max_concurrency=11)
    mapped = out.filter(F.col("status") == "ok")
    assert mapped.count() == 32
    assert _partition_sizes(mapped) == [10, 11, 11]


def test_retrieve_with_checkpoint_duplicate_processed_id(spark, tmp_path):
    """A checkpoint holding one processed id twice still reports each input
    id exactly once."""
    path = str(tmp_path / "ckpt")
    t = dt.datetime(2024, 1, 1, tzinfo=UTC)
    spark.createDataFrame(
        [("1", True, None, t), ("1", True, None, t), ("3", False, "e", t)],
        "response_id string, processed boolean, error string, updated_at timestamp",
    ).write.parquet(path)
    df = spark.createDataFrame([(str(i),) for i in range(5)], "response_id string")
    calls = str(tmp_path / "calls")
    out = retrieve_with_checkpoint(
        spark, df, _call_recorder(calls, "response_id"), path, t
    ).collect()
    assert sorted((r.response_id, r.status) for r in out) == [
        ("0", "ok"), ("1", "already_processed"), ("2", "ok"), ("3", "ok"), ("4", "ok"),
    ]
    assert _calls(calls) == ["0", "2", "3", "4"]


@pytest.mark.parametrize("leftovers", [(), ("_SUCCESS",), ("_temporary/0/x",)])
def test_retrieve_with_checkpoint_empty_checkpoint_dir(spark, tmp_path, leftovers):
    """A checkpoint directory holding no data files (pre-created, or left by
    an interrupted overwrite) means nothing is processed yet."""
    path = tmp_path / "ckpt"
    path.mkdir()
    for rel in leftovers:
        (path / rel).parent.mkdir(parents=True, exist_ok=True)
        (path / rel).write_text("")
    assert load_checkpoint(spark, str(path)).count() == 0
    df = spark.createDataFrame([(str(i),) for i in range(3)], "response_id string")
    calls = str(tmp_path / "calls")
    out = retrieve_with_checkpoint(
        spark, df, _call_recorder(calls, "response_id"), str(path),
        dt.datetime(2024, 1, 1, tzinfo=UTC),
    ).collect()
    assert sorted((r.response_id, r.status) for r in out) == [
        ("0", "ok"), ("1", "ok"), ("2", "ok"),
    ]
    assert _calls(calls) == ["0", "1", "2"]


def test_retrieve_with_checkpoint_unreadable_checkpoint_raises(spark, tmp_path):
    """Only a missing checkpoint means "nothing processed": an unreadable one
    must fail the run instead of re-invoking fn for every row."""
    path = tmp_path / "ckpt"
    path.mkdir()
    (path / "part-00000.parquet").write_text("not parquet")
    df = spark.createDataFrame([(str(i),) for i in range(3)], "response_id string")
    calls = str(tmp_path / "calls")
    with pytest.raises(Exception):
        retrieve_with_checkpoint(
            spark, df, _call_recorder(calls, "response_id"), str(path),
            dt.datetime(2024, 1, 1, tzinfo=UTC),
        )
    assert _calls(calls) == []


def test_retrieve_with_checkpoint_audit_trail(spark, tmp_path):
    """attempt/complete/error events land in the log table with the
    reference's event types and payload fields
    (reference background_retrieval.py:146-159,185-201,249-267)."""
    import json

    path = str(tmp_path / "ckpt3")
    log_dir = str(tmp_path / "audit_log")
    df = spark.createDataFrame(
        [(str(i), f"user-{i}") for i in range(6)],
        "response_id string, custom_id string",
    )

    async def flaky(row: dict) -> str:
        if int(row["response_id"]) % 3 == 0:
            raise ValueError("boom")
        return f"resp-{row['response_id']}"

    t = dt.datetime(2024, 1, 1, tzinfo=UTC)
    retrieve_with_checkpoint(spark, df, flaky, path, t, audit_log_dir=log_dir)

    log = spark.read.parquet(log_dir)
    by_type = {
        r.event_type: r.n
        for r in log.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "background_retrieval_attempt": 6,
        "background_retrieval_complete": 4,
        "background_retrieval_error": 2,
    }
    err = log.filter(F.col("event_type") == "background_retrieval_error").first()
    payload = json.loads(err.payload)
    assert payload["status"] == "failed" and "ValueError" in payload["error"]
    assert err.custom_id.startswith("user-")
    ok = log.filter(F.col("event_type") == "background_retrieval_complete").first()
    assert json.loads(ok.payload)["status"] == "completed"


def test_dedup_keep_last_deterministic(spark):
    t1 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    t2 = dt.datetime(2024, 1, 2, tzinfo=UTC)
    df = spark.createDataFrame(
        [("x", False, "old", t1), ("x", True, None, t2), ("y", True, None, t1)],
        "response_id string, processed boolean, error string, updated_at timestamp",
    )
    out = {r.response_id: r for r in dedup_keep_last(df).collect()}
    assert out["x"].processed is True and out["x"].updated_at.day == 2


def test_user_value_median_pandas_leg_matches_jvm(spark, sf_dir):
    """The applyInPandas grouped-map variant (§2.9 UDF-surface leg) agrees
    value-for-value with the graded JVM percentile() query."""
    from langchain_callback_parquet_logger_spark.operators.batch_queries import (
        grouped_median_pandas,
        q_user_value_median,
    )

    got = {
        r.user_id: (r.median_value, r.n_events)
        for r in grouped_median_pandas(spark, sf_dir).collect()
    }
    expected = {
        r.user_id: (r.median_value, r.n_events)
        for r in q_user_value_median(spark, sf_dir).collect()
    }
    assert got == expected
