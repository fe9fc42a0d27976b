"""Metric names, units and how each is derived from a worker's record.

End-to-end metrics come from an untraced run; per-layer metrics from the
traced passes of a traced run, as the median over those passes of each
pass's value. A per-layer metric that does not apply to a workload (a
gate's build time on a recipe workload) reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from workloads import GATES, SHARED_REPEAT

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "run_ms_p50": "ms",
}

_GATE_FIELDS = (("build_s", "s"), ("collect_s", "s"), ("jobs", "count"), ("residue", "count"))

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "recipe.load_s": "s",
    "runner.plugin_init_s": "s",
    "runner.persist_count_s": "s",
    "runner.jobs_per_recipe": "count",
    "runner.queue_wait_s": "s",
    "runner.recipe_overlap": "ratio",
    "runner.sink_retries": "count",
    "sources.extract_s": "s",
    "sources.extract_jobs": "count",
    "operators.profile_columns_s": "s",
    "io.read_parquet_table_s": "s",
    "io.read_parquet_table_calls": "count",
    "processors.process_s": "s",
    "sinks.file.ndjson_s": "s",
    "sinks.file.yaml_s": "s",
    "sinks.file.parquet_s": "s",
    "sinks.rows_written": "count",
    "driver.python_cpu_s": "s",
    "cache_residue_rdds": "count",
    **{f"gates.{g}.{f}": u for g in GATES for f, u in _GATE_FIELDS},
    **{f"gates.{g}.shared_repeat_s": "s" for g in SHARED_REPEAT},
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.lifecycle_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.overhead_frac": "ratio",
}

# self time of these span names, summed per pass
_SELF = {
    "recipe.load_s": "recipe.load_recipes",
    "runner.plugin_init_s": "runner.plugin_init",
    "sources.extract_s": "sources.extract",
    "operators.profile_columns_s": "operators.profile_columns",
    "io.read_parquet_table_s": "io.read_parquet_table",
    "processors.process_s": "processors.process",
    "sinks.file.ndjson_s": "sinks.file.ndjson",
    "sinks.file.yaml_s": "sinks.file.yaml",
    "sinks.file.parquet_s": "sinks.file.parquet",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def warm(rec: dict, traced: bool) -> list[dict]:
    return [p for p in rec["passes"] if p["n"] > 0 and p["traced"] == traced]


def end_to_end(rec: dict, setups: list[float]) -> dict:
    passes = warm(rec, False)
    # each unit's fastest warm duration; a recipe's name carries its
    # position in the pass, its shape does not
    fastest: dict[str, float] = {}
    for p in passes:
        for u in p["units"]:
            k = u["name"] if u["shape"] == "gate" else u["shape"]
            fastest[k] = min(fastest.get(k, u["duration_ms"]), u["duration_ms"])
    return {
        "setup_s": _median(setups),
        "first_pass_s": rec["passes"][0]["wall_s"],
        # fastest, not median: on a shared host, interference only ever
        # adds time, and it hits a whole pass now and then (on a 4 vCPU
        # VM, a warm gate pass of 10 s reads 13-14 s about one time in
        # four); the JIT also still compiles through the first warm pass
        # or two
        "pass_s": min(p["wall_s"] for p in passes),
        "run_ms_p50": _median(list(fastest.values())),
    }


def _pass_layers(p: dict, layer: dict, events: dict) -> dict:
    spans = layer["spans"]
    self_s = layer["self_s"]
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    m: dict[str, float] = {k: self_s.get(v, 0.0) for k, v in _SELF.items()}

    runs = [s for s in spans if s["name"] == "runner.run"]
    sinks = [s for s in spans if s["name"].startswith("sinks.")]
    persist = 0.0
    for r in runs:
        ch = sorted(kids[r["id"]], key=lambda s: s["start"])
        upstream = [s["end"] for s in ch if s["name"] in ("sources.extract", "processors.process")]
        first_sink = next((s["start"] for s in ch if s["name"].startswith("sinks.")), None)
        if upstream and first_sink is not None:
            # Agent.run persists the frame and counts it between the last
            # processor and the first sink
            persist += first_sink - max(upstream)
    m["runner.persist_count_s"] = persist
    m["runner.jobs_per_recipe"] = p["jobs"] / len(runs) if runs else 0.0
    m["runner.queue_wait_s"] = sum(
        r["start"] - by_id[r["parent"]]["start"] for r in runs if r["parent"] in by_id
    )
    m["runner.recipe_overlap"] = (
        sum(r["end"] - r["start"] for r in runs) / p["wall_s"] if runs else 0.0
    )
    m["runner.sink_retries"] = len(sinks) - len({(s["parent"], s["name"]) for s in sinks})
    m["sources.extract_jobs"] = sum(s["jobs"] for s in spans if s["name"] == "sources.extract")
    m["io.read_parquet_table_calls"] = sum(1 for s in spans if s["name"] == "io.read_parquet_table")
    m["sinks.rows_written"] = sum(s["value"] or 0 for s in sinks)
    m["driver.python_cpu_s"] = p["cpu_s"]
    m["cache_residue_rdds"] = sum(u["residue"] for u in p["units"])

    for u in p["units"]:
        if u["shape"] == "gate":
            for f, _ in _GATE_FIELDS:
                m[f"gates.{u['name']}.{f}"] = u[f]

    st = dict(p.get("streaming", {}))
    batch_times = st.pop("batches_at", [])
    streaming_wall = 0.0
    for u in p["units"]:
        a, b = u["started"], u["started"] + u["duration_ms"] / 1e3
        if any(a <= t <= b for t in batch_times):
            streaming_wall += b - a
    m.update(st)
    if st:
        m["streaming.lifecycle_s"] = streaming_wall - st["streaming.trigger_ms"] / 1e3
    m.update(events)
    return m


def per_layer(rec: dict, traced: list[tuple[dict, dict, dict]]) -> dict:
    """``traced`` holds (pass, its spans and self times, its event-log
    totals) for each traced warm pass."""
    rows = [_pass_layers(p, layer, ev) for p, layer, ev in traced]
    out = {k: _median([r.get(k, 0.0) for r in rows]) for k in PER_LAYER}
    out["session.get_spark_s"] = rec.get("session.get_spark_s", 0.0)
    out["session.jvm_peak_rss_mb"] = rec.get("jvm_peak_rss_mb", 0.0)
    for g, u in rec.get("shared_repeat", {}).items():
        out[f"gates.{g}.shared_repeat_s"] = u["duration_ms"] / 1e3
    plain = _median([p["wall_s"] for p in warm(rec, False)])
    with_trace = _median([p["wall_s"] for p in warm(rec, True)])
    out["trace.overhead_frac"] = with_trace / plain - 1.0 if plain else 0.0
    return out
