"""Metric definitions: names, units, and how each is computed from a
run's passes and, for traced runs, its event log.

End-to-end metrics come from untraced timed passes. ``peak_rss_mb`` is
the peak, sampled every 0.25 s, of the resident memory of the driver
process, the JVM and the Python workers, with pages shared between them
(forked workers) counted once (the sum of their PSS). Per-layer metrics
are summed over the ops of one traced pass, then the median over traced
passes is reported. A metric that a workload's ops do not touch reads 0
(for instance ``arrow.python_s`` on a workload without Arrow kernels).
"""

from __future__ import annotations

import glob
import math
import os
import statistics

import eventlog

MB = 1024 * 1024

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s_geomean": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_ops_frac": "ratio",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.task_s": "s",
    "build.jobs_checkpoint": "count",
    "build.jobs_count": "count",
    "build.jobs_collect": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.records_read": "count",
    "arrow.python_s": "s",
    "arrow.worker_init_s": "s",
    "arrow.to_python_mb": "MB",
    "arrow.from_python_mb": "MB",
    "ingest.jobs": "count",
    "ingest.input_scans": "ratio",
    "xe_xml.parse_passes": "ratio",
    "schema.infer_s": "s",
    "schema.infer_jobs": "count",
    "ingest.files_written": "count",
    "ingest.bytes_written_per_event": "B",
    "ingest.stored_bytes_per_input_byte": "ratio",
    "storage.peak_mb": "MB",
    "storage.held_after_release_mb": "MB",
    "ann.recall_at_k": "ratio",
    "trace.overhead_frac": "ratio",
}


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(timed: list[dict], setup_s: float, peak_rss: int, attempted: int, failed: int) -> dict:
    """``timed`` holds the untraced timed passes in which every op ran."""
    ops = timed[0]["ops"] if timed else {}
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["s"] for p in timed) if timed else 0.0,
        "op_s_geomean": geomean(statistics.median(p["ops"][op] for p in timed) for op in ops),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in timed) if timed else 0.0,
        "peak_rss_mb": peak_rss / MB,
        "ok_ops_frac": (attempted - failed) / attempted if attempted else 0.0,
    }


def input_sizes(inputs: dict) -> dict:
    """Row and byte counts of every generated input."""
    return {
        k: {"rows": v["rows"], "bytes": v["bytes"]}
        for k, v in inputs.items()
        if isinstance(v, dict) and "rows" in v and "bytes" in v
    }


def read_event_log(event_dir: str) -> eventlog.EventLog:
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    return eventlog.read(paths[0])


def tracker_check(tracers, log: eventlog.EventLog) -> dict:
    """Jobs per group as the status tracker and the event log saw them;
    the two should agree."""
    out = {"groups": 0, "mismatched": []}
    for tr in tracers:
        for ph in tr.phases:
            out["groups"] += 1
            g = log.groups.get(ph["group"])
            n = g.jobs if g else 0
            if n != ph["tracker_jobs"]:
                out["mismatched"].append((ph["group"], ph["tracker_jobs"], n))
    return out


def _pass_layers(wl, inputs: dict, tracer, log: eventlog.EventLog, rec: dict) -> dict:
    ingest_ops = {op.name for op in wl.ops if op.ingest}
    v = {n: 0.0 for n in PER_LAYER_UNITS}
    rows_read = {"events": 0, "xml_bytes": 0}
    for ph in tracer.phases:
        g = log.groups.get(ph["group"]) or eventlog.GroupStats()
        phase = ph["phase"]
        if phase in ("build", "plan", "exec"):
            v[f"{phase}.s"] += ph["wall_s"]
        if phase == "build":
            v["build.jobs"] += g.jobs
            v["build.task_s"] += g.task_ms / 1000
            for kind in ("checkpoint", "count", "collect"):
                v[f"build.jobs_{kind}"] += g.jobs_by_kind.get(kind, 0)
        elif phase == "exec":
            v["exec.jobs"] += g.jobs
            v["exec.tasks"] += g.tasks
            v["exec.task_s"] += g.task_ms / 1000
            v["exec.gc_s"] += g.gc_ms / 1000
            v["exec.shuffle_write_mb"] += g.shuffle_write_bytes / MB
            v["exec.shuffle_read_mb"] += g.shuffle_read_bytes / MB
            v["exec.spill_mb"] += g.spill_bytes / MB
            v["exec.records_read"] += g.records_read
        if phase == "schema":
            v["schema.infer_s"] += ph["wall_s"]
            v["schema.infer_jobs"] += g.jobs
        v["arrow.python_s"] += g.python_ms / 1000
        v["arrow.worker_init_s"] += (g.boot_ms + g.init_ms) / 1000
        v["arrow.to_python_mb"] += g.to_python_bytes / MB
        v["arrow.from_python_mb"] += g.from_python_bytes / MB
        if ph["op"] in ingest_ops:
            v["ingest.jobs"] += g.jobs
            if ph["op"] == "load_xml":
                rows_read["xml_bytes"] += g.bytes_read
            else:
                rows_read["events"] += g.records_read
    if "events" in inputs:
        v["ingest.input_scans"] = rows_read["events"] / inputs["events"]["rows"]
    if "xe" in inputs:
        v["xe_xml.parse_passes"] = rows_read["xml_bytes"] / inputs["xe"]["bytes"]
    start = log.group_span.get(tracer.group("_", "start"), (0, 0))[0]
    end = log.group_span.get(tracer.group("_", "end"), (start, start))[1]
    v["storage.peak_mb"] = log.storage.peak_between(start, end) / MB
    v["storage.held_after_release_mb"] = log.storage.held_at(end) / MB
    for name, value in rec["extra"].items():
        v[name] = value
    return v


def per_layer(wl, inputs, traced, tracers, log, untraced, session_start_s: float) -> dict:
    per_pass = [_pass_layers(wl, inputs, tr, log, rec) for tr, rec in zip(tracers, traced)]
    out = {n: statistics.median(p[n] for p in per_pass) if per_pass else 0.0 for n in PER_LAYER_UNITS}
    out["session.start_s"] = session_start_s
    if traced and untraced:
        out["trace.overhead_frac"] = (
            statistics.median(p["s"] for p in traced) / statistics.median(p["s"] for p in untraced) - 1
        )
    return out
