"""Statistics over one run's raw samples, spans and events.

Pure functions of the harness output (see harness/Harness.scala); the
benchmark's own tests exercise them (tests/test_metrics.py).
"""
import bisect
import statistics


def union_length(intervals, lo, hi):
    """Length of the part of [lo, hi] that the intervals cover."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its
    interval its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def e2e(samples, setup_s):
    """End-to-end metrics from the timed, untraced samples."""
    timed = [s for s in samples if not s["warmup"] and not s["traced"]]
    walls = [(s["end"] - s["start"]) / 1e9 for s in timed]
    by_op = {}
    for s, w in zip(timed, walls):
        by_op.setdefault(s["op"], []).append(w)
    passes = len({s["pass"] for s in timed})
    op_medians = [statistics.median(v) for v in by_op.values()]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_max_s": (max(op_medians), "s"),
        "pass_s": (sum(op_medians), "s"),
        "cpu_s": (sum(s["cpu_ns"] for s in timed) / 1e9 / passes, "s"),
        "live_heap_mb": (statistics.median(s["live_heap"] for s in timed) / 2**20, "MB"),
    }, {"samples": len(walls), "passes": passes}


PER_LAYER = [
    ("operators.build_s", "s"), ("spark.analysis_s", "s"), ("spark.optimize_s", "s"),
    ("spark.physical_s", "s"), ("spark.execute_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.sched_wait_s", "s"),
    ("spark.codegen_s", "s"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_write_records", "count"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("jvm.gc_s", "s"),
    ("spark.input_bytes", "bytes"), ("spark.input_records", "count"),
    ("spark.rows_per_result_row", "ratio"),
    ("streaming.batches", "count"), ("streaming.latest_offset_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_commit_ms", "ms"),
    ("streaming.input_rows", "count"),
    ("sources.odata.requests", "count"), ("sources.odata.bytes", "bytes"),
    ("sources.odata.get_s", "s"), ("sources.parquet_bytes_written", "bytes"),
    ("sources.parquet_files_written", "count"), ("sources.write_amp", "ratio"),
    ("sources.catalog_s", "s"), ("sources.ingest_s", "s"), ("sources.readback_s", "s"),
    ("sources.ingest_rows_per_s", "1/s"),
    ("trace.op_self_s", "s"), ("trace.overhead_s", "s"),
]

# span name -> per-layer metric that reports its self time
SPAN_METRICS = {
    "operators.build": "operators.build_s", "spark.analysis": "spark.analysis_s",
    "spark.optimize": "spark.optimize_s", "spark.physical": "spark.physical_s",
    "spark.execute": "spark.execute_s", "sources.ingest": "sources.ingest_s",
    "sources.readback": "sources.readback_s", "op": "trace.op_self_s",
}

TASK_FIELDS = {
    "spark.task_run_s": ("run_ms", 1e-3), "spark.task_cpu_s": ("cpu_ns", 1e-9),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "spark.shuffle_write_records": ("shuffle_write_records", 1),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", 1),
    "spark.spill_bytes": ("spill_bytes", 1), "spark.input_bytes": ("input_bytes", 1),
    "spark.input_records": ("input_records", 1),
}

BATCH_FIELDS = {
    "streaming.latest_offset_ms": "latest_offset_ms",
    "streaming.query_planning_ms": "query_planning_ms",
    "streaming.add_batch_ms": "add_batch_ms", "streaming.wal_commit_ms": "wal_commit_ms",
    "streaming.commit_offsets_ms": "commit_offsets_ms", "streaming.state_rows": "state_rows",
    "streaming.state_commit_ms": "state_commit_ms", "streaming.input_rows": "input_rows",
}


def _pass_walls(samples, traced):
    walls = {}
    for s in samples:
        if not s["warmup"] and s["traced"] == traced:
            walls[s["pass"]] = walls.get(s["pass"], 0) + (s["end"] - s["start"]) / 1e9
    return list(walls.values())


def per_layer(out):
    """Per-layer metrics from a traced run: totals over the traced passes
    divided by their number, so each reads as 'per pass'. Events are
    attributed to the op whose span contains their start."""
    samples = out["samples"]
    traced = [s for s in samples if not s["warmup"] and s["traced"]]
    n = max(1, len({s["pass"] for s in traced}))
    windows = sorted((s["start"], s["end"]) for s in traced)
    starts = [w[0] for w in windows]

    def in_op(t):
        i = bisect.bisect_right(starts, t) - 1
        return i >= 0 and t <= windows[i][1]

    v = {name: 0.0 for name, _ in PER_LAYER}
    spans = out["spans"]
    own = self_times(spans)
    for s in spans:
        if s["name"] in SPAN_METRICS:
            v[SPAN_METRICS[s["name"]]] += own[s["id"]] / 1e9
    events = [e for e in out["events"] if in_op(e["start"])]
    tasks = [e for e in events if e["kind"] == "task"]
    for metric, (field, scale) in TASK_FIELDS.items():
        v[metric] = sum(e.get(field, 0) for e in tasks) * scale
    v["spark.tasks"] = len(tasks)
    v["spark.jobs"] = sum(1 for e in events if e["kind"] == "job")
    v["spark.stages"] = sum(1 for e in events if e["kind"] == "stage")
    intervals = [(e["start"], e["end"]) for e in tasks]
    for s in spans:
        if s["name"] == "spark.execute":
            v["spark.sched_wait_s"] += ((s["end"] - s["start"])
                                        - union_length(intervals, s["start"], s["end"])) / 1e9
    batches = [e for e in events if e["kind"] == "micro_batch"]
    v["streaming.batches"] = len(batches)
    for metric, field in BATCH_FIELDS.items():
        v[metric] = sum(e.get(field, 0) for e in batches)
    v["sources.catalog_s"] = sum(e["duration_ns"] for e in events
                                 if e["kind"] == "catalog_command") / 1e9
    v["spark.codegen_s"] = sum(s["codegen_ns"] for s in traced) / 1e9
    v["jvm.gc_s"] = sum(s["gc_ms"] for s in traced) / 1e3
    result_rows = sum(s["rows"] for s in traced)
    v["spark.rows_per_result_row"] = v["spark.input_records"] / max(1, result_rows)
    traced_passes = {s["pass"] for s in traced}
    ing = [r for r in out["ingest"] if r.get("pass") in traced_passes]
    v["sources.odata.requests"] = sum(r["requests"] for r in ing)
    v["sources.odata.bytes"] = sum(r["json_bytes"] for r in ing)
    v["sources.odata.get_s"] = sum(r["get_ns"] for r in ing) / 1e9
    v["sources.parquet_bytes_written"] = sum(r["parquet_bytes"] for r in ing)
    v["sources.parquet_files_written"] = sum(r["parquet_files"] for r in ing)
    v["sources.write_amp"] = v["sources.parquet_bytes_written"] / max(1, v["sources.odata.bytes"])
    ingest_wall = sum((s["end"] - s["start"]) / 1e9 for s in traced if s["op"].startswith("ingest:"))
    if ing and ingest_wall > 0:
        v["sources.ingest_rows_per_s"] = sum(r["rows"] for r in ing) / ingest_wall
    per_pass = {k: x / n for k, x in v.items()
                if k not in ("spark.rows_per_result_row", "sources.write_amp",
                             "sources.ingest_rows_per_s")}
    v.update(per_pass)
    tw, uw = _pass_walls(samples, True), _pass_walls(samples, False)
    v["trace.overhead_s"] = (statistics.median(tw) - statistics.median(uw)) if tw and uw else 0.0
    units = dict(PER_LAYER)
    return {k: (v[k], units[k]) for k, _ in PER_LAYER}
