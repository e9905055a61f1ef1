"""Offline parser for an uncompressed Spark event log.

The traced benchmark run tags every Spark job it causes with a job group
``p<pass>/<op>:<phase>`` (``sc.setJobGroup``) and writes a plain
JSON-lines event log. This module folds that log into per-group totals:
jobs by kind, tasks, task and GC time, shuffle, spill, records and bytes
read, the Python-worker metrics of the Arrow boundary, and block storage
held over time. Jobs are attributed by job group, never by call
site: PySpark records Python call sites only for collects, while
checkpoint, count, save and adaptive-execution jobs report JVM frames.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric names of the Python runners (PythonSQLMetrics in Spark 4.1);
# timings are reported in milliseconds, sizes in bytes.
_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


@dataclass
class GroupStats:
    """Totals for one job group."""

    jobs: int = 0
    jobs_by_kind: dict = field(default_factory=lambda: defaultdict(int))
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    bytes_read: int = 0
    python_ms: int = 0
    boot_ms: int = 0
    init_ms: int = 0
    to_python_bytes: int = 0
    from_python_bytes: int = 0


@dataclass
class StorageTrace:
    """Bytes held in the block manager, from logged block updates.

    ``samples`` is a list of (event index, bytes held) after every update
    of an RDD block (persisted frames and local checkpoints) and every
    unpersist; broadcast blocks are left out.
    """

    samples: list = field(default_factory=list)

    def peak_between(self, start: int, end: int) -> int:
        held = [b for i, b in self.samples if start <= i < end]
        before = [b for i, b in self.samples if i < start]
        return max(held + before[-1:] + [0])

    def held_at(self, index: int) -> int:
        before = [b for i, b in self.samples if i <= index]
        return before[-1] if before else 0


@dataclass
class EventLog:
    groups: dict
    storage: StorageTrace
    # job group → index in the log of its last job's end, used to place
    # group boundaries on the storage timeline
    group_span: dict


def job_kind(stage_name: str) -> str:
    """Classify a job by the API call that launched it, from the name of
    its result stage: ``count at NativeMethodAccessorImpl.java:0`` for a
    Dataset method called through py4j, ``collect at <file>.py:<line>``
    for a collect made from Python. Adaptive-execution and broadcast jobs
    (``$anonfun$withThreadLocalCaptured…``) and file listings are
    ``other``."""
    head = stage_name.split(" at ", 1)[0].strip().lower()
    if "checkpoint" in head:
        return "checkpoint"
    if head.startswith("count"):
        return "count"
    if head.startswith(("collect", "topandas", "first", "take", "head", "tolocaliterator")):
        return "collect"
    if head.startswith("save"):
        return "write"
    return "other"


def parse(lines) -> EventLog:
    """Fold an iterable of event-log JSON lines into an :class:`EventLog`."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    group_span: dict[str, tuple[int, int]] = {}
    blocks: dict[str, int] = {}
    storage = StorageTrace()
    held = 0
    for index, line in enumerate(lines):
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            g = groups[group]
            g.jobs += 1
            stages = ev.get("Stage Infos") or [{}]
            result_stage = max(stages, key=lambda st: st.get("Stage ID", -1))
            g.jobs_by_kind[job_kind(result_stage.get("Stage Name", ""))] += 1
            first, _ = group_span.get(group, (index, index))
            group_span[group] = (first, index)
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(ev["Job ID"], "")
            first, _ = group_span.get(group, (index, index))
            group_span[group] = (first, index)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev.get("Stage ID"), "")]
            _add_task(g, ev)
        elif kind == "SparkListenerBlockUpdated":
            info = ev.get("Block Updated Info") or {}
            bid = info.get("Block ID", "")
            if not bid.startswith("rdd_"):
                continue
            size = int(info.get("Memory Size", 0)) + int(info.get("Disk Size", 0))
            held += size - blocks.get(bid, 0)
            if size:
                blocks[bid] = size
            else:
                blocks.pop(bid, None)
            storage.samples.append((index, held))
        elif kind == "SparkListenerUnpersistRDD":
            prefix = f"rdd_{ev['RDD ID']}_"
            for bid in [b for b in blocks if b.startswith(prefix)]:
                held -= blocks.pop(bid)
            storage.samples.append((index, held))
    return EventLog(groups=dict(groups), storage=storage, group_span=group_span)


def _add_task(g: GroupStats, ev: dict) -> None:
    g.tasks += 1
    m = ev.get("Task Metrics") or {}
    g.task_ms += int(m.get("Executor Run Time", 0))
    g.gc_ms += int(m.get("JVM GC Time", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    g.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
    g.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
    inp = m.get("Input Metrics") or {}
    g.records_read += int(inp.get("Records Read", 0))
    g.bytes_read += int(inp.get("Bytes Read", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        attr = _PY_METRICS.get(acc.get("Name", ""))
        if attr:
            setattr(g, attr, getattr(g, attr) + int(acc.get("Update", 0) or 0))


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
