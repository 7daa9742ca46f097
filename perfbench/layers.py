"""Per-layer metrics: the catalog and their computation from one pass's spans.

A layer that a workload never calls reports 0; that is the "predicted no
change" side the layer map in README.md names for it.
"""

from __future__ import annotations

import collections

# Operator modules measured through the queries they register.
MODULES = [
    "queries", "analytic", "temporal", "sql_surface", "streaming",
    "text", "dedup", "similarity", "graph", "pipeline",
]
MODULE_METRICS = [
    ("build_s", "s"), ("run_s", "s"), ("eager_jobs", "count"), ("jobs", "count"),
    ("tasks", "count"), ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("cpu_s", "s"),
]

PER_LAYER = [
    ("client.pass_s", "s"),
    ("client.call_ms.p50", "ms"),
    ("logger.calls", "count"),
    ("logger.capture_s", "s"),
    ("logger.flushes", "count"),
    ("logger.flush_s", "s"),
    ("logger.jobs_per_flush", "count"),
    ("ingest.normalize_s", "s"),
    ("ingest.read_s", "s"),
    ("sinks.write_calls", "count"),
    ("sinks.write_s", "s"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_written", "B"),
    ("sinks.compact_s", "s"),
    ("sinks.compact_files_in", "count"),
    ("sinks.compact_files_out", "count"),
    ("sinks.compact_bytes_rewritten", "B"),
    ("streaming.micro_batches", "count"),
    ("streaming.rows", "count"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("batchmap.calls", "count"),
    ("batchmap.ok", "count"),
    ("batchmap.useful_ratio", "ratio"),
    ("batchmap.overlap", "ratio"),
    ("checkpoint.resume_s", "s"),
    ("session.release_s", "s"),
    ("session.ref_scan_s", "s"),
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.mem_mb.p75", "MB"),
    ("trace.overhead_s", "s"),
] + [(f"{m}.{k}", unit) for m in MODULES for k, unit in MODULE_METRICS]

UNITS = dict(PER_LAYER)


def aggregate(spans: list, offset: int) -> dict:
    """Per-layer totals of one traced pass.  ``spans`` is the pass's slice
    of the tracer's spans, which starts at index ``offset``."""
    child = collections.defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent - offset] += s.duration
    by = collections.defaultdict(list)
    for i, s in enumerate(spans):
        by[(s.layer, s.name.split(":", 1)[0])].append((i, s))

    def total(key, attr=None):
        return sum(s.attrs.get(attr, 0) if attr else s.duration for _, s in by[key])

    flushes = len(by[("logger", "flush")])
    m = {
        "logger.calls": len(by[("logger", "capture")]),
        "logger.capture_s": sum(s.duration - child[i] for i, s in by[("logger", "capture")]),
        "logger.flushes": flushes,
        "logger.flush_s": total(("logger", "flush")),
        "logger.jobs_per_flush": total(("logger", "flush"), "jobs") / flushes if flushes else 0,
        "ingest.normalize_s": total(("ingest", "normalize")),
        "ingest.read_s": total(("ingest", "read")) + total(("ingest", "logscan")),
        "sinks.write_calls": len(by[("sinks", "write")]),
        "sinks.write_s": total(("sinks", "write")),
        "sinks.files_written": total(("sinks", "write"), "files"),
        "sinks.bytes_written": total(("sinks", "write"), "bytes"),
        "sinks.compact_s": total(("sinks", "compact")),
        "sinks.compact_files_in": total(("sinks", "compact"), "files_in"),
        "sinks.compact_files_out": total(("sinks", "compact"), "files_out"),
        "sinks.compact_bytes_rewritten": total(("sinks", "compact"), "bytes_out"),
        "streaming.micro_batches": total(("streaming", "drain"), "micro_batches"),
        "streaming.rows": total(("streaming", "drain"), "rows"),
        "streaming.trigger_ms": total(("streaming", "drain"), "trigger_ms"),
        "streaming.add_batch_ms": total(("streaming", "drain"), "add_batch_ms"),
        "streaming.planning_ms": total(("streaming", "drain"), "planning_ms"),
        "checkpoint.resume_s": total(("checkpoint", "resume")),
        "session.release_s": total(("session", "release")),
    }
    for mod in MODULES:
        build = [s for _, s in by[(mod, "build")]]
        run = [s for _, s in by[(mod, "run")]]
        both = build + run
        m[f"{mod}.build_s"] = sum(s.duration for s in build)
        m[f"{mod}.run_s"] = sum(s.duration for s in run)
        m[f"{mod}.eager_jobs"] = sum(s.attrs.get("jobs", 0) for s in build)
        for key in ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "cpu_s"):
            m[f"{mod}.{key}"] = sum(s.attrs.get(key, 0) for s in both)
    return m
