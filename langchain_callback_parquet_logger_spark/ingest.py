"""Write-path ingestion: heterogeneous callback events → canonical log rows.

Reproduces the reference's capture pipeline (SURVEY.md §3.1) as a single
declarative Spark transform:

    events frame → event-type filter (P1) → normalize-to-schema projection
    (P2, the 7-column log row) → JSON payload assembly (F1) →
    date-partitioned parquet (sinks.py)

The reference does this row-by-row in Python with a lock-serialized buffer
(`logger.py:418-440`); here stages 2-6 of its lifecycle collapse into one
Catalyst-planned job — filtering is predicate-pushdown, JSON assembly is
codegen'd `to_json`, and the micro-batch buffer becomes either one batch job
or a Structured Streaming trigger (streaming/ingest.py).

Reference citations: logger.py:168-187 (payload IR), logger.py:228-239 (row
projection), logger.py:241-249 (event filter), tagging.py:85-98 (custom-id
extraction), config.py:161 (tag prefix).
"""

from __future__ import annotations

import json
from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import (
    CUSTOM_ID_DESC_PREFIX,
    CUSTOM_ID_PREFIX,
    DEFAULT_EVENT_TYPES,
    LOG_COLUMNS,
)


# ---------------------------------------------------------------------------
# P3 — custom-id extraction from a tags array (tagging.py:85-98).
# Higher-order FILTER keeps the scan JVM-side; element_at(…, 1) + substring
# strips the prefix. Returns '' (never null) when no tagged id exists,
# matching the reference's contract (tests/test_core.py:224-240).
# ---------------------------------------------------------------------------
def extract_custom_id_from_tags(tags: Column) -> Column:
    matches = F.filter(tags, lambda t: t.startswith(CUSTOM_ID_PREFIX))
    # try_element_at: NULL (not an ANSI error) when no tag matched
    first = F.try_element_at(matches, F.lit(1))
    stripped = F.substring(first, len(CUSTOM_ID_PREFIX) + 1, 2 ** 31 - 1)
    return F.coalesce(stripped, F.lit(""))


# ---------------------------------------------------------------------------
# P4 — with_tags: client-side tag construction (tagging.py:7-82).
# Driver-side helper (it builds constants, not a distributed op) with the
# reference's exact semantics: extend (or, with replace_tags, overwrite) the
# config's tags with positional + list tags, then append the prefixed
# custom id and — only when a custom id exists — its description tag.
# ---------------------------------------------------------------------------
def with_tags(
    *additional_tags: str,
    custom_id: str | None = None,
    custom_id_description: str | None = None,
    tags: Sequence[str] | None = None,
    config: dict | None = None,
    replace_tags: bool = False,
) -> dict:
    config = config or {}
    if replace_tags:
        tag_list: list[str] = []
        config["tags"] = tag_list
    else:
        tag_list = config.setdefault("tags", [])
    tag_list.extend(additional_tags)
    if tags:
        tag_list.extend(tags)
    if custom_id:
        tag_list.append(f"{CUSTOM_ID_PREFIX}{custom_id}")
        if custom_id_description:
            tag_list.append(f"{CUSTOM_ID_DESC_PREFIX}{custom_id_description}")
    return config


def tags_column(tags: Sequence[str]) -> Column:
    """Materialize a constant tags list as an ArrayType(StringType) column."""
    return F.array(*[F.lit(t) for t in tags])


# ---------------------------------------------------------------------------
# P1 — event-type filter (logger.py:241-249; default set config.py:23-27).
# ---------------------------------------------------------------------------
def filter_event_types(
    df: DataFrame,
    event_types: Iterable[str] | None = None,
    column: str = "event_type",
) -> DataFrame:
    types = list(event_types) if event_types is not None else DEFAULT_EVENT_TYPES
    return df.filter(F.col(column).isin(types))


# ---------------------------------------------------------------------------
# P2 + F1 — normalize-to-schema projection.
# Input: a frame of raw callback events with at least (timestamp, run_id,
# event_type) and optional (parent_run_id, tags, metadata, data, raw).
# Output: the exact 7-column log frame (schema.LOG_SCHEMA), payload built as
# {event_type, timestamp, execution{...}, data{...}, raw} via to_json —
# the reference's canonical payload IR (logger.py:168-187).
# ---------------------------------------------------------------------------
def normalize_events(
    df: DataFrame,
    logger_metadata: Mapping[str, object] | None = None,
    event_types: Iterable[str] | None = None,
) -> DataFrame:
    cols = set(df.columns)

    def opt(name: str, default: Column) -> Column:
        return F.col(name) if name in cols else default

    filtered = filter_event_types(df, event_types)

    parent = F.coalesce(
        opt("parent_run_id", F.lit(None).cast("string")), F.lit("")
    )
    tags = opt("tags", F.array().cast("array<string>"))
    custom_id = extract_custom_id_from_tags(tags)
    metadata_col = opt("metadata", F.lit(None).cast("map<string,string>"))
    data_col = opt("data", F.lit(None).cast("string"))
    raw_col = opt("raw", F.lit(None).cast("string"))

    # Payload assembly. `data`/`raw` arrive as JSON strings (the open-ended
    # sections stay schema-on-read, SURVEY.md §1.2); the stable envelope is a
    # typed struct serialized with to_json. ISO-8601 event time matches the
    # reference's payload timestamp (logger.py:177).
    execution = F.struct(
        F.col("run_id").alias("run_id"),
        parent.alias("parent_run_id"),
        custom_id.alias("custom_id"),
        tags.alias("tags"),
        metadata_col.alias("metadata"),
    )
    envelope = F.to_json(
        F.struct(
            F.col("event_type").alias("event_type"),
            F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias(
                "timestamp"
            ),
            execution.alias("execution"),
        )
    )
    # Splice the pre-serialized data/raw JSON into the envelope without
    # re-parsing: payload = {...envelope fields..., "data": <data>, "raw": <raw>}
    payload = _splice_json_sections(envelope, data_col, raw_col)

    meta_json = json.dumps(dict(logger_metadata or {}), separators=(",", ":"))

    return filtered.select(
        F.col("timestamp").alias("timestamp"),
        F.col("run_id").cast("string").alias("run_id"),
        parent.alias("parent_run_id"),
        custom_id.alias("custom_id"),
        F.col("event_type").alias("event_type"),
        F.lit(meta_json).alias("logger_metadata"),
        payload.alias("payload"),
    )


def _splice_json_sections(envelope: Column, data_col: Column, raw_col: Column) -> Column:
    """Append optional pre-serialized `data` / `raw` JSON sections to the
    envelope JSON object, staying entirely in JVM string functions."""
    # left(envelope, length-1) drops the closing brace of the envelope.
    head = F.left(envelope, F.length(envelope) - 1)
    data_part = F.when(
        data_col.isNotNull(), F.concat(F.lit(',"data":'), data_col)
    ).otherwise(F.lit(""))
    raw_part = F.when(
        raw_col.isNotNull(), F.concat(F.lit(',"raw":'), raw_col)
    ).otherwise(F.lit(""))
    return F.concat(head, data_part, raw_part, F.lit("}"))


# Raw event schema shared by the batch and streaming sources and the live
# logger's buffer.
# Explicit — the engine never infers schemas (SURVEY.md §1.1).
RAW_EVENT_DDL = (
    "timestamp timestamp, run_id string, parent_run_id string, "
    "event_type string, tags array<string>, metadata map<string,string>, "
    "data string, raw string"
)

# CSV cannot carry arrays/maps: tags and metadata travel as JSON strings
# and are parsed right after the scan (still schema-declared, not inferred).
RAW_EVENT_DDL_FLAT = (
    "timestamp timestamp, run_id string, parent_run_id string, "
    "event_type string, tags string, metadata string, "
    "data string, raw string"
)


def rows_to_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType | str
) -> DataFrame:
    """Non-empty driver-side row tuples → a one-partition frame, with no
    Python worker.

    The rows become one ``pyarrow.Table`` typed by ``schema``, which Spark
    reads as a ``LocalTableScan``; a list passed to ``createDataFrame`` would
    instead be pickled into a PythonRDD and re-serialized by Python-worker
    tasks. The rows already sit on the driver, so one task handles them.
    Timestamps must be timezone-aware ``datetime``s; map values keep their
    insertion order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def read_log_dataset(spark: SparkSession, path: str) -> DataFrame:
    """S10 — scan a (possibly date-partitioned) log directory.

    The reference reads the whole tree with pandas (README.md:218); Spark
    adds partition discovery and partition pruning on the `date=` dirs.
    """
    return spark.read.parquet(path)


def payload_field(payload: Column, json_path: str) -> Column:
    """F2 — ad-hoc JSON path extraction (README.md:221-224)."""
    return F.get_json_object(payload, json_path)


def select_log_columns(df: DataFrame) -> DataFrame:
    return df.select(*LOG_COLUMNS)
