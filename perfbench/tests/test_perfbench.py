"""Tests of the benchmark itself: input generation, the event-log parser,
metric naming, and one tiny smoke run per workload.

    python3 -m pytest perfbench/tests -q

Run from the repository root. The smoke runs start Spark and take about
a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _make_all(seed: int, root: str) -> dict:
    spec = gen.EventFilesSpec(n_files=5, rows_per_file=300, n_corrupt=1, n_late=1)
    return {
        "events": gen.write_event_files(seed, os.path.join(root, "ev"), spec),
        "xe": gen.write_xe_xml(seed, os.path.join(root, "xe"), 2, 50),
        "emb": gen.write_embeddings(seed, os.path.join(root, "sf"), 60),
        "docs": gen.write_documents(seed, os.path.join(root, "sf"), 40, 10),
    }


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info_a, info_b = _make_all(7, a), _make_all(7, b)
    _make_all(8, c)
    ta, tb, tc = _tree(a), _tree(b), _tree(c)
    assert ta == tb
    assert json.dumps(info_a).replace(a, b) == json.dumps(info_b)
    assert ta.keys() == tc.keys()
    # the XEM sidecar declares the fixed event schema; every data file differs
    assert all(ta[k] != tc[k] for k in ta if not k.endswith(".xem"))


def test_generator_plants_corrupt_and_foreign_files(tmp_path):
    spec = gen.EventFilesSpec(n_files=6, rows_per_file=400, n_corrupt=2, n_late=2)
    info = gen.write_event_files(3, str(tmp_path), spec)
    init, late = info["truth"]["initial"], info["truth"]["late"]
    assert len(init["aborted_files"]) == 2 and not late["aborted_files"]
    assert [f.startswith(gen.FOREIGN_SESSION) for f in init["foreign_files"]] == [True]
    assert len(init["files"]) == 4 and len(late["files"]) == 2
    # every kept file loses only its malformed rows
    kept_files = len(init["files"]) - 2 + len(late["files"])
    assert init["events"] + late["events"] == kept_files * 400 - init["errors"] - late["errors"]
    assert info["rows"] == 7 * 400


def test_exact_topk_matches_brute_force(tmp_path):
    gen.write_embeddings(5, str(tmp_path), 80)
    got = workloads.exact_topk(str(tmp_path), query_ids=[0, 3], k=4)
    import pyarrow.parquet as pq

    t = pq.read_table(str(tmp_path / "embeddings.parquet")).to_pylist()

    def q(v):
        x = float(v) * 1000
        return int(x + 0.5) if x >= 0 else -int(-x + 0.5)

    vecs = {r["vec_id"]: [q(v) for v in r["embedding"]] for r in t}
    for qid in (0, 3):
        scored = sorted(
            ((-sum(a * b for a, b in zip(vecs[qid], v)), cid) for cid, v in vecs.items() if cid != qid)
        )
        assert got[qid] == [cid for _, cid in scored[:4]]


def test_event_log_parser_on_recorded_log():
    log = eventlog.read(os.path.join(HERE, "data", "tiny_eventlog.jsonl"))
    build = log.groups["p1/q_dedup_clusters:build"]
    assert build.jobs == 16
    assert dict(build.jobs_by_kind) == {"other": 10, "count": 5, "collect": 1}
    assert build.tasks == 27 and build.task_ms == 3653
    assert build.shuffle_write_bytes == 77035
    ann = log.groups["p1/q_ann_topk_dot:exec"]
    assert (ann.python_ms, ann.boot_ms, ann.init_ms) == (2162, 1297, 551)
    assert (ann.to_python_bytes, ann.from_python_bytes) == (160000, 36152)
    assert dict(ann.jobs_by_kind) == {"other": 1, "write": 1}
    # two persisted frames (two blocks each), both unpersisted by release
    start, end = log.group_span["p1/q_dedup_clusters:build"][0], log.group_span["p1/_:end"][1]
    assert log.storage.peak_between(start, end) == 28968 + 29152 + 560 + 560
    assert log.storage.held_at(end) == 0


@pytest.mark.parametrize(
    "stage_name,kind",
    [
        ("count at NativeMethodAccessorImpl.java:0", "count"),
        ("collect at xeloader_spark/operators/dedup.py:931", "collect"),
        ("checkpoint at NativeMethodAccessorImpl.java:0", "checkpoint"),
        ("save at NativeMethodAccessorImpl.java:0", "write"),
        ("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", "other"),
    ],
)
def test_job_kind(stage_name, kind):
    assert eventlog.job_kind(stage_name) == kind


def test_metric_names_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert e2e.keys() == metrics.END_TO_END_UNITS.keys()
    assert layer.keys() == metrics.PER_LAYER_UNITS.keys()
    for name, unit in {**metrics.END_TO_END_UNITS, **metrics.PER_LAYER_UNITS}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
        assert (e2e.get(name) or layer[name])["unit"] == unit
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _tiny_run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    """One warm-up and one timed pass (three when traced) at tiny sizes."""
    code = (
        "import sys; sys.path.insert(0, 'perfbench'); import gen, run, workloads\n"
        "workloads.SIZES['xe_ingest'].update(event_files=gen.EventFilesSpec(5, 300, 1, 1),"
        " xml_files=1, xml_events_per_file=200)\n"
        "workloads.SIZES['graph_ann'].update(embeddings=200, documents=60, doc_bases=20)\n"
        f"rc = run.main(['--workload', '{workload}', '--seed', '3', '--seconds', '0',"
        f" '--trace', '{trace}'])\n"
        # The run must have stopped and waited for every process it started:
        # none may be left as a child, running or not yet waited for.
        "import os\n"
        "try:\n"
        "    os.waitpid(-1, os.WNOHANG)\n"
        "    sys.exit('a process the run started is still there')\n"
        "except ChildProcessError:\n"
        "    sys.exit(rc)\n"
    )
    return subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("workload,trace", [("xe_ingest", 0), ("graph_ann", 1)])
def test_smoke_run(workload, trace):
    p = _tiny_run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = metrics.PER_LAYER_UNITS if trace else metrics.END_TO_END_UNITS
    assert {n: m["unit"] for n, m in res["metrics"].items()} == units
    if trace:
        assert res["metrics"]["arrow.python_s"]["value"] > 0
        assert res["metrics"]["build.jobs"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "xe_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert filecmp.cmp(tmp_path / "BENCHMARK.json", os.path.join(ROOT, "BENCHMARK.json"))
