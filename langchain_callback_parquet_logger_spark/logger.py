"""Live event capture: a LangChain-compatible callback handler backed by the
Spark engine.

API parity with the reference's ``ParquetLogger`` (logger.py:33-491 in
/root/reference): 12 ``on_*`` handlers, event-type filtering, a size-bounded
buffer with manual/context/atexit flush, date partitioning, and the
``{event_type, timestamp, execution, data, raw}`` payload envelope.

Spark-first differences (deliberate, SURVEY.md §3.1):
- The buffer holds *raw event rows*, not pre-serialized payloads; flush runs
  the declarative ``normalize_events`` transform + partitioned parquet write,
  so the same Catalyst plan serves live capture, batch ingest, and streaming.
- The buffer reaches the JVM as one Arrow batch (``ingest.rows_to_frame``),
  so no Python worker runs, and one task writes it: a flush writes one file
  per date it touches, as the reference writes one file per flush.
- No lock-serialized I/O: the reference writes while holding its buffer lock
  (logger.py:418-440); here the lock only guards the tiny in-memory list
  swap — the write happens outside it.
- Event dicts are serialized with a best-effort duck-typed cascade matching
  the reference's behavior (model_dump → to_dict → __dict__ → str,
  logger.py:103-150) before they enter the JVM.

LangChain itself is optional: the handler duck-types BaseCallbackHandler's
method surface, so it works as a callback when langchain-core is installed
and as a plain event collector when not.
"""

from __future__ import annotations

import atexit
import datetime as dt
import json
import threading
from typing import Any, Iterable, Literal, Mapping, Sequence

from pyspark.sql import SparkSession

from .ingest import RAW_EVENT_DDL, normalize_events, rows_to_frame
from .schema import DEFAULT_EVENT_TYPES
from .sinks import CompositeSink, ParquetSink, create_sink


def to_jsonable(obj: Any, _depth: int = 0) -> Any:
    """Duck-typed best-effort conversion to JSON-serializable values,
    behaviorally matching the reference's cascade (logger.py:103-150):
    Pydantic v2 ``model_dump`` → ``to_dict`` → ``__dict__`` → ``str``."""
    if _depth > 20:
        return str(obj)
    if obj is None or isinstance(obj, (bool, int, float, str)):
        return obj
    if isinstance(obj, (dt.datetime, dt.date)):
        return obj.isoformat()
    if isinstance(obj, Mapping):
        return {str(k): to_jsonable(v, _depth + 1) for k, v in obj.items()}
    if isinstance(obj, (list, tuple, set)):
        return [to_jsonable(v, _depth + 1) for v in obj]
    for attr in ("model_dump", "to_dict", "dict"):
        fn = getattr(obj, attr, None)
        if callable(fn):
            try:
                return to_jsonable(fn(), _depth + 1)
            except Exception:
                pass
    d = getattr(obj, "__dict__", None)
    if isinstance(d, dict) and d:
        return {str(k): to_jsonable(v, _depth + 1) for k, v in d.items()}
    return str(obj)


def safe_json_dumps(obj: Any) -> str:
    """Second defensive layer (reference logger.py:152-166)."""
    try:
        return json.dumps(to_jsonable(obj), separators=(",", ":"), default=str)
    except Exception:
        return json.dumps({"serialization_error": str(obj)[:1000]})


def _error_payload(error: BaseException) -> dict:
    """Exception → {message, type} (reference logger.py:189-194)."""
    return {"message": str(error), "type": type(error).__name__}


def _extract_llm_end_data(response: Any) -> dict:
    """Pull response text + usage/response metadata off the first generation
    (reference logger.py:196-215, 289-307), tolerating malformed shapes
    (tests/test_usage_metadata.py:142-167)."""
    data: dict[str, Any] = {}
    try:
        r = to_jsonable(response)
        data["response"] = r
        gens = r.get("generations") if isinstance(r, dict) else None
        first = None
        if isinstance(gens, list) and gens:
            inner = gens[0]
            if isinstance(inner, list) and inner:
                first = inner[0]
            elif isinstance(inner, dict):
                first = inner
        if isinstance(first, dict):
            msg = first.get("message")
            if isinstance(msg, dict):
                for k in ("usage_metadata", "response_metadata"):
                    if isinstance(msg.get(k), dict):
                        data[k] = msg[k]
        if isinstance(r, dict) and isinstance(r.get("llm_output"), dict):
            tu = r["llm_output"].get("token_usage")
            if isinstance(tu, dict):
                data["token_usage"] = tu
    except Exception:
        pass
    return data


class SparkParquetLogger:
    """Buffered event logger writing date-partitioned parquet through Spark.

    Usage (mirrors the reference README):

        with SparkParquetLogger(spark, "./logs", buffer_size=100) as logger:
            llm = SomeChatModel(callbacks=[logger])
            ...

    or standalone: ``logger.on_llm_start({...}, ["prompt"], run_id="r1")``.
    """

    # LangChain BaseCallbackHandler duck-type surface: the real callback
    # dispatcher (langchain_core.callbacks.base.BaseCallbackManager /
    # handle_event) reads these flags off every handler before routing an
    # event, so they must all exist for the duck-typed handler to survive
    # real dispatch (verified by tests/test_langchain_integration.py
    # wherever langchain-core is installed).
    raise_error = False
    run_inline = True
    ignore_llm = False
    ignore_chain = False
    ignore_agent = False
    ignore_retriever = False
    ignore_chat_model = False
    ignore_retry = False
    ignore_custom_event = False

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str | None = "./llm_logs",
        s3_dir: str | None = None,
        buffer_size: int = 100,
        event_types: Iterable[str] | None = None,
        logger_metadata: Mapping[str, Any] | None = None,
        partition_on: Literal["date"] | None = "date",
    ) -> None:
        self.spark = spark
        self.buffer_size = buffer_size
        self.event_types = list(event_types) if event_types is not None else list(
            DEFAULT_EVENT_TYPES
        )
        self.logger_metadata = dict(logger_metadata or {})
        self.sink: ParquetSink | CompositeSink = create_sink(
            base_dir, s3_dir, partition_on=partition_on
        )
        self._buffer: list[tuple] = []
        self._lock = threading.Lock()
        atexit.register(self.flush)

    # -- core capture ------------------------------------------------------

    def log_event(
        self,
        event_type: str,
        run_id: Any = None,
        parent_run_id: Any = None,
        tags: Sequence[str] | None = None,
        metadata: Mapping[str, Any] | None = None,
        data: Mapping[str, Any] | None = None,
        raw: Mapping[str, Any] | None = None,
        _bypass_filter: bool = False,
    ) -> None:
        """Append one event row; flush when the buffer threshold is reached.

        ``_bypass_filter=True`` matches the reference's direct ``_add_entry``
        injection used by background retrieval (background_retrieval.py:
        146-159) — those events skip the event_types filter."""
        if not _bypass_filter and event_type not in self.event_types:
            return
        row = (
            dt.datetime.now(dt.timezone.utc),
            str(run_id) if run_id is not None else "",
            str(parent_run_id) if parent_run_id is not None else None,
            event_type,
            list(tags or []),
            {str(k): str(v) for k, v in (metadata or {}).items()},
            safe_json_dumps(data) if data is not None else None,
            safe_json_dumps(raw) if raw is not None else None,
        )
        with self._lock:
            self._buffer.append(row)
            should_flush = len(self._buffer) >= self.buffer_size
        if should_flush:
            self.flush()

    def flush(self) -> None:
        """Swap the buffer under the lock, write outside it."""
        with self._lock:
            if not self._buffer:
                return
            batch, self._buffer = self._buffer, []
        normalized = normalize_events(
            rows_to_frame(self.spark, batch, RAW_EVENT_DDL),
            logger_metadata=self.logger_metadata,
            # rows were already filtered at capture; pass-through here keeps
            # bypass-injected events intact
            event_types=sorted({r[3] for r in batch}),
        )
        self.sink.write(normalized)

    def __enter__(self) -> "SparkParquetLogger":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.flush()

    # -- the 12 LangChain handlers (reference logger.py:252-415) -----------

    def on_llm_start(self, serialized: Any, prompts: Any, **kw: Any) -> None:
        self._handle(
            "llm_start",
            kw,
            data={
                "prompts": to_jsonable(prompts),
                "llm_type": (serialized or {}).get("_type")
                if isinstance(serialized, Mapping)
                else None,
                "serialized": to_jsonable(serialized),
                "invocation_params": to_jsonable(kw.get("invocation_params")),
            },
            raw={"serialized": to_jsonable(serialized), "prompts": to_jsonable(prompts), **_raw_kwargs(kw)},
        )

    def on_chat_model_start(self, serialized: Any, messages: Any, **kw: Any) -> None:
        self._handle(
            "chat_model_start",
            kw,
            data={"messages": to_jsonable(messages), "serialized": to_jsonable(serialized)},
            raw={"serialized": to_jsonable(serialized), "messages": to_jsonable(messages), **_raw_kwargs(kw)},
        )

    def on_llm_end(self, response: Any, **kw: Any) -> None:
        self._handle(
            "llm_end",
            kw,
            data=_extract_llm_end_data(response),
            raw={"response": to_jsonable(response), **_raw_kwargs(kw)},
        )

    def on_llm_error(self, error: BaseException, **kw: Any) -> None:
        self._handle(
            "llm_error",
            kw,
            data={"error": _error_payload(error)},
            raw=_raw_kwargs(kw),
        )

    def on_chain_start(self, serialized: Any, inputs: Any, **kw: Any) -> None:
        self._handle(
            "chain_start",
            kw,
            data={"inputs": to_jsonable(inputs)},
            raw={"serialized": to_jsonable(serialized), "inputs": to_jsonable(inputs), **_raw_kwargs(kw)},
        )

    def on_chain_end(self, outputs: Any, **kw: Any) -> None:
        self._handle(
            "chain_end", kw, data={"outputs": to_jsonable(outputs)}, raw=_raw_kwargs(kw)
        )

    def on_chain_error(self, error: BaseException, **kw: Any) -> None:
        self._handle(
            "chain_error", kw, data={"error": _error_payload(error)}, raw=_raw_kwargs(kw)
        )

    def on_tool_start(self, serialized: Any, input_str: Any, **kw: Any) -> None:
        self._handle(
            "tool_start",
            kw,
            data={"input_str": to_jsonable(input_str)},
            raw={"serialized": to_jsonable(serialized), "input_str": to_jsonable(input_str), **_raw_kwargs(kw)},
        )

    def on_tool_end(self, output: Any, **kw: Any) -> None:
        self._handle(
            "tool_end", kw, data={"output": to_jsonable(output)}, raw=_raw_kwargs(kw)
        )

    def on_tool_error(self, error: BaseException, **kw: Any) -> None:
        self._handle(
            "tool_error", kw, data={"error": _error_payload(error)}, raw=_raw_kwargs(kw)
        )

    def on_agent_action(self, action: Any, **kw: Any) -> None:
        self._handle(
            "agent_action", kw, data={"action": to_jsonable(action)}, raw=_raw_kwargs(kw)
        )

    def on_agent_finish(self, finish: Any, **kw: Any) -> None:
        self._handle(
            "agent_finish", kw, data={"finish": to_jsonable(finish)}, raw=_raw_kwargs(kw)
        )

    # -- plumbing ----------------------------------------------------------

    def _handle(self, event_type: str, kw: Mapping[str, Any], data: dict, raw: dict) -> None:
        self.log_event(
            event_type,
            run_id=kw.get("run_id"),
            parent_run_id=kw.get("parent_run_id"),
            tags=[str(t) for t in (kw.get("tags") or [])],
            metadata=kw.get("metadata"),
            data={k: v for k, v in data.items() if v is not None},
            raw=raw,
        )


def _raw_kwargs(kw: Mapping[str, Any]) -> dict:
    """The complete kwargs dump that forms the payload's ``raw`` section
    (reference logger.py:186, tests/test_raw_capture.py:59-67)."""
    return {str(k): to_jsonable(v) for k, v in kw.items()}
