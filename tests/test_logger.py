"""Live-capture logger parity tests, mirroring the reference's test_core /
test_enhanced_logging / test_raw_capture invariants (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from langchain_callback_parquet_logger_spark.ingest import RAW_EVENT_DDL, normalize_events
from langchain_callback_parquet_logger_spark.logger import (
    SparkParquetLogger,
    safe_json_dumps,
    to_jsonable,
)


@pytest.fixture()
def make_logger(spark, tmp_path):
    def _make(**kw):
        kw.setdefault("base_dir", str(tmp_path / "logs"))
        kw.setdefault("partition_on", None)
        return SparkParquetLogger(spark, **kw)

    return _make


def read_back(spark, path):
    return spark.read.parquet(str(path))


def test_buffer_threshold_flush(make_logger, spark, tmp_path):
    logger = make_logger(buffer_size=3)
    for i in range(2):
        logger.on_llm_start({"_type": "fake"}, [f"p{i}"], run_id=f"r{i}")
    assert not (tmp_path / "logs").exists()  # below threshold: nothing written
    logger.on_llm_start({"_type": "fake"}, ["p2"], run_id="r2")
    df = read_back(spark, tmp_path / "logs")
    assert df.count() == 3


def test_manual_and_context_flush(make_logger, spark, tmp_path):
    with make_logger(buffer_size=100) as logger:
        logger.on_llm_start({"_type": "fake"}, ["p"], run_id="r1")
        logger.on_llm_end({"generations": []}, run_id="r1")
    df = read_back(spark, tmp_path / "logs")
    assert df.count() == 2


def test_event_type_filter_default_set(make_logger, spark, tmp_path):
    with make_logger() as logger:
        logger.on_llm_start({}, ["p"], run_id="r1")
        logger.on_chain_start({}, {"q": 1}, run_id="r2")  # not in default set
    df = read_back(spark, tmp_path / "logs")
    assert {r.event_type for r in df.collect()} == {"llm_start"}


def test_parent_hierarchy_and_empty_parent(make_logger, spark, tmp_path):
    types = ["chain_start", "llm_start", "tool_start"]
    with make_logger(event_types=types) as logger:
        logger.on_chain_start({}, {}, run_id="A")
        logger.on_llm_start({}, ["p"], run_id="B", parent_run_id="A")
        logger.on_tool_start({}, "in", run_id="C", parent_run_id="B")
    rows = {r.run_id: r for r in read_back(spark, tmp_path / "logs").collect()}
    assert rows["A"].parent_run_id == ""  # '' never null
    assert rows["B"].parent_run_id == "A"
    assert rows["C"].parent_run_id == "B"


def test_raw_captures_all_kwargs(make_logger, spark, tmp_path):
    with make_logger() as logger:
        logger.on_llm_start(
            {"_type": "fake"}, ["p"], run_id="r1", invocation_params={"temperature": 0.5},
            extra_kwarg="weird",
        )
    row = read_back(spark, tmp_path / "logs").collect()[0]
    payload = json.loads(row.payload)
    assert payload["raw"]["extra_kwarg"] == "weird"
    assert payload["raw"]["invocation_params"]["temperature"] == 0.5
    assert payload["data"]["prompts"] == ["p"]


def test_custom_id_from_tags(make_logger, spark, tmp_path):
    with make_logger() as logger:
        logger.on_llm_start(
            {}, ["p"], run_id="r1", tags=["t", "logger_custom_id:cid-9"]
        )
    row = read_back(spark, tmp_path / "logs").collect()[0]
    assert row.custom_id == "cid-9"


def test_usage_metadata_extraction(make_logger, spark, tmp_path):
    response = {
        "generations": [[{"text": "4", "message": {
            "usage_metadata": {"input_tokens": 5, "output_tokens": 1, "total_tokens": 6},
            "response_metadata": {"model_name": "fake-1"},
        }}]],
        "llm_output": {"token_usage": {"total_tokens": 6}},
    }
    with make_logger() as logger:
        logger.on_llm_end(response, run_id="r1")
    payload = json.loads(read_back(spark, tmp_path / "logs").collect()[0].payload)
    assert payload["data"]["usage_metadata"]["total_tokens"] == 6
    assert payload["data"]["response_metadata"]["model_name"] == "fake-1"
    assert payload["data"]["token_usage"]["total_tokens"] == 6


def test_malformed_generations_tolerated(make_logger, spark, tmp_path):
    with make_logger() as logger:
        logger.on_llm_end({"generations": "not-a-list"}, run_id="r1")
    assert read_back(spark, tmp_path / "logs").count() == 1


def test_error_events(make_logger, spark, tmp_path):
    with make_logger() as logger:
        logger.on_llm_error(ValueError("boom"), run_id="r1")
    payload = json.loads(read_back(spark, tmp_path / "logs").collect()[0].payload)
    assert payload["data"]["error"] == {"message": "boom", "type": "ValueError"}


def test_bypass_filter_injection(make_logger, spark, tmp_path):
    with make_logger() as logger:  # default set excludes background_* types
        logger.log_event(
            "background_retrieval_attempt", run_id="r1", data={"attempt": 1},
            _bypass_filter=True,
        )
    assert {r.event_type for r in read_back(spark, tmp_path / "logs").collect()} == {
        "background_retrieval_attempt"
    }


def test_logger_metadata_round_trip(make_logger, spark, tmp_path):
    with make_logger(logger_metadata={"job": "j7"}) as logger:
        logger.on_llm_start({}, ["p"], run_id="r1")
    row = read_back(spark, tmp_path / "logs").collect()[0]
    assert json.loads(row.logger_metadata) == {"job": "j7"}


def test_date_partitioned_layout(spark, tmp_path):
    logger = SparkParquetLogger(spark, str(tmp_path / "plogs"), partition_on="date")
    logger.on_llm_start({}, ["p"], run_id="r1")
    logger.flush()
    dirs = [p.name for p in (tmp_path / "plogs").iterdir() if p.is_dir()]
    assert len(dirs) == 1 and dirs[0].startswith("date=")


def _at(*args):
    return dt.datetime(*args, tzinfo=dt.timezone.utc)


# Buffer rows as log_event builds them: (timestamp, run_id, parent_run_id,
# event_type, tags, metadata, data, raw).
FIXED_BATCH = [
    (_at(2024, 1, 1, 23, 59, 59, 999999), "r1", None, "llm_start", [],
     {"k": "v", "é": "ü", "a": "b"}, '{"prompts":["p"]}', '{"x":1}'),
    (_at(2024, 1, 2, 0, 0, 0, 1), "r2", "", "llm_end",
     ["t", "logger_custom_id:cid-1", "custom_id_description:d"], {}, None, None),
    (_at(1969, 7, 20, 20, 17, 40, 123456), "r3", "r1", "background_retrieval_attempt",
     ["logger_custom_id:ünï"], {"ключ": "値"}, None, '{"y":[1,2]}'),
    (_at(2024, 1, 2, 0, 0, 0, 0), "r4", None, "chat_model_start", ["x"],
     {"z": "1", "m": "2"}, '{"d":"ü"}', None),
]


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_flush_matches_row_list_reference(make_logger, spark, tmp_path, tz):
    """A flush writes what normalize_events gives over the same rows fed to
    createDataFrame as a list. The one intended difference: metadata map
    entries keep insertion order in the payload (the reference json.dumps
    the dict), where the list path reorders them through a JVM hash map."""
    from langchain_callback_parquet_logger_spark.plans.session import scoped_conf

    with scoped_conf(spark, {"spark.sql.session.timeZone": tz}):
        logger = make_logger(logger_metadata={"job": "j"})
        logger._buffer.extend(FIXED_BATCH)
        logger.flush()
        got = {r.run_id: r for r in read_back(spark, tmp_path / "logs").collect()}
        want = {
            r.run_id: r
            for r in normalize_events(
                spark.createDataFrame(FIXED_BATCH, RAW_EVENT_DDL),
                logger_metadata={"job": "j"},
                event_types=sorted({row[3] for row in FIXED_BATCH}),
            ).collect()
        }
    assert sorted(got) == sorted(want) == ["r1", "r2", "r3", "r4"]
    for run_id, w in want.items():
        g = got[run_id].asDict()
        w = w.asDict()
        assert json.loads(g.pop("payload")) == json.loads(w.pop("payload"))
        assert g == w
    assert '"metadata":{"k":"v","é":"ü","a":"b"}' in got["r1"].payload
    assert '"metadata":{"z":"1","m":"2"}' in got["r4"].payload


def test_date_flush_writes_one_file_per_date(make_logger, spark, tmp_path):
    """One flush spanning two UTC dates leaves one parquet file per date."""
    batch = [
        (_at(2024, 3, 1, 23, 59, 59) + dt.timedelta(days=i % 2), f"r{i}", None,
         "llm_start", [], {}, None, None)
        for i in range(40)
    ]
    logger = make_logger(partition_on="date")
    logger._buffer.extend(batch)
    logger.flush()
    files = sorted(
        p.relative_to(tmp_path / "logs").as_posix()
        for p in (tmp_path / "logs").rglob("*.parquet")
    )
    assert [f.split("/")[0] for f in files] == ["date=2024-03-01", "date=2024-03-02"]


# --- serialization cascade (reference logger.py:103-150) ---


class _PydanticLike:
    def model_dump(self):
        return {"a": 1, "nested": {"b": 2}}


class _ToDictLike:
    def to_dict(self):
        return {"c": 3}


class _DunderOnly:
    def __init__(self):
        self.x = 7


def test_serialization_cascade():
    assert to_jsonable(_PydanticLike()) == {"a": 1, "nested": {"b": 2}}
    assert to_jsonable(_ToDictLike()) == {"c": 3}
    assert to_jsonable(_DunderOnly()) == {"x": 7}
    assert to_jsonable({1, 2}) in ([1, 2], [2, 1])
    assert json.loads(safe_json_dumps(object())).startswith("<object")
