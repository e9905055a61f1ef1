"""Workloads: their seeded inputs, their ops, and the checks on each op's
output.

An op is one call into the engine's public API, timed as a unit. Query
ops (``q_*``) run in three phases, each under its own job group when the
run is traced: ``build`` (the ``q_*`` call until it returns a DataFrame,
eager checkpoints, counts and collects included), ``plan`` (physical
planning, traced runs only) and ``exec`` (the sink, a collect to pandas).
Load ops write the store through ``operators.ingest``; their schema
inference runs as its own ``schema`` phase.

Checks run outside the op's timing: on check passes a load op's store is
read back and compared with the generator's truth, and a query op's
result with its oracle; every pass's query results must be identical.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

import gen

# ------------------------------------------------------------------ sizes
# One place for every input size, so the inputs a run used are recorded
# next to its figures. Sizes are small on purpose: at these sizes the
# engine's time is set by job launches, planning, code generation and the
# Arrow boundary, the layers this benchmark watches, and a run fits the
# benchmark's time box on a 4-core host.
SIZES = {
    "xe_ingest": {
        "event_files": gen.EventFilesSpec(n_files=5, rows_per_file=4000, n_corrupt=2, n_late=1),
        "xml_files": 1,
        "xml_events_per_file": 5000,
    },
    "graph_ann": {"embeddings": 1200, "documents": 600, "doc_bases": 200},
}


@dataclass
class Ctx:
    """What an op needs: the session, the workload's inputs and a scratch
    directory that is emptied after every pass."""

    spark: object
    inputs: dict
    pass_dir: str = ""
    trace: Callable | None = None  # (op, phase) → context manager

    def phase(self, op: str, name: str):
        return self.trace(op, name) if self.trace else nullcontext()


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], object]  # the timed call; returns its result
    check: Callable[[Ctx, object], str | None] | None = None  # → error or None
    # turns a result into what ``check`` compares, outside the timing
    readback: Callable[[Ctx, object], object] | None = None
    ingest: bool = False  # a load op, whose jobs all count as ingest work


@dataclass
class Workload:
    name: str
    make_inputs: Callable[[int, str], dict]
    ops: list[Op]
    warmup_passes: int
    # Wall time of one warm pass on a 4-core host; ``--seconds`` divided by
    # it gives the number of timed passes, the same in every run.
    nominal_pass_s: float
    # per-layer figures that only this workload's inputs define, taken
    # after each pass
    extra: Callable[[Ctx], dict]

    def timed_passes(self, seconds: float) -> int:
        return max(1, int(seconds / self.nominal_pass_s))


# ------------------------------------------------------------ query ops
def _release() -> None:
    """Free every persisted frame and local checkpoint the engine's
    registries hold, between ops."""
    from xeloader_spark.operators import cluster, dedup

    dedup.release_persisted()
    cluster.release_persisted()


def query_op(name: str, check=None) -> Op:
    def run(ctx: Ctx):
        from xeloader_spark import queries

        fn = queries.all_queries()[name]
        with ctx.phase(name, "build"):
            df = fn(ctx.spark, ctx.inputs["sf_dir"])
        if ctx.trace:
            with ctx.phase(name, "plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.phase(name, "exec"):
            out = df.toPandas()
        _release()
        return out

    return Op(name, run, check)


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a collected result."""
    from xeloader_spark.testing import _canon

    canon = _canon(pdf)
    h = hashlib.sha256(",".join(canon.columns).encode())
    for row in canon.itertuples(index=False):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


# ----------------------------------------------------------- xe_ingest
def _ingest_inputs(seed: int, root: str) -> dict:
    s = SIZES["xe_ingest"]
    ev = gen.write_event_files(seed, os.path.join(root, "events"), s["event_files"])
    xe = gen.write_xe_xml(seed, os.path.join(root, "xe"), s["xml_files"], s["xml_events_per_file"])
    return {"events": ev, "events_root": os.path.join(root, "events"), "xe": xe}


def _link_files(src: str, names: list[str], dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for n in names:
        os.link(os.path.join(src, n), os.path.join(dst, n))


def _load_parquet(ctx: Ctx):
    from xeloader_spark.operators import ingest

    ev = ctx.inputs["events"]
    src = os.path.join(ctx.pass_dir, "in")
    _link_files(os.path.join(ctx.inputs["events_root"], "initial"), ev["files"]["initial"], src)
    with ctx.phase("load_parquet", "exec"):
        rep = ingest.ingest(
            ctx.spark, src, os.path.join(ctx.pass_dir, "store"),
            ingest.IngestConfig(write_mode="overwrite"),
        )
    return rep


def _load_incremental(ctx: Ctx):
    from xeloader_spark.operators import ingest

    ev = ctx.inputs["events"]
    _link_files(
        os.path.join(ctx.inputs["events_root"], "late"), ev["files"]["late"],
        os.path.join(ctx.pass_dir, "in"),
    )
    with ctx.phase("load_incremental", "exec"):
        rep = ingest.ingest_incremental(
            ctx.spark, os.path.join(ctx.pass_dir, "in"), os.path.join(ctx.pass_dir, "store"),
            ingest.IngestConfig(),
        )
    return rep


def _store_readback(ctx: Ctx, rep) -> dict:
    from pyspark.sql import functions as F

    store = os.path.join(ctx.pass_dir, "store")
    df = ctx.spark.read.parquet(store)
    per_type = {r.event_type: r.n for r in df.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    files = sorted(
        os.path.basename(r.f) for r in df.select(F.col("e_source_file").alias("f")).distinct().collect()
    )
    lineage = sorted(
        (r.file_id, r.file_name)
        for r in ctx.spark.read.parquet(store + "_lineage").select("file_id", "file_name").collect()
    )
    return {"report": rep, "per_type": per_type, "files": files, "lineage": lineage}


def _check_load(phases: tuple[str, ...]):
    def check(ctx: Ctx, out: dict) -> str | None:
        truth = ctx.inputs["events"]["truth"]
        t = [truth[p] for p in phases]
        want_events = sum(x["events"] for x in t)
        want_types: dict[str, int] = {}
        for x in t:
            for k, v in x["per_type"].items():
                want_types[k] = want_types.get(k, 0) + v
        loaded = sorted(n for x in t for n in x["files"] if n not in x["aborted_files"])
        registered = sorted(n for x in t for n in x["files"])
        rep = out["report"]
        new = t[-1]
        errs = []
        if rep.n_events != new["events"]:
            errs.append(f"report events {rep.n_events} != {new['events']}")
        if rep.n_files_aborted != len(new["aborted_files"]):
            errs.append(f"aborted {rep.n_files_aborted} != {len(new['aborted_files'])}")
        if sum(out["per_type"].values()) != want_events or out["per_type"] != want_types:
            errs.append(f"store per-type counts {out['per_type']} != {want_types}")
        if out["files"] != loaded:
            errs.append("store holds events of other files than the loaded ones")
        names = [n for _, n in out["lineage"]]
        if sorted(names) != registered:
            errs.append(f"lineage files {sorted(names)} != {registered}")
        if [i for i, _ in out["lineage"]] != list(range(1, len(registered) + 1)):
            errs.append("lineage ids are not dense from 1")
        return "; ".join(errs) or None

    return check


def _load_xml(ctx: Ctx):
    from xeloader_spark.operators import ingest
    from xeloader_spark.sources import xe_xml

    xe = ctx.inputs["xe"]
    with open(xe["xem"], encoding="utf-8") as fh:
        fields, actions = xe_xml.parse_xem_metadata(fh.read())
    with ctx.phase("load_xml", "build"):
        parsed = xe_xml.read_xml_events(ctx.spark, xe["dir"])
    with ctx.phase("load_xml", "schema"):
        flat = xe_xml.flatten_xml_events(parsed, {**fields, **actions})
    with ctx.phase("load_xml", "exec"):
        ingest.demux_write(
            flat, os.path.join(ctx.pass_dir, "xml_store"), ingest.IngestConfig(write_mode="overwrite")
        )


def _xml_readback(ctx: Ctx, _) -> dict:
    from pyspark.sql import functions as F

    df = ctx.spark.read.parquet(os.path.join(ctx.pass_dir, "xml_store"))
    rows = df.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c_duration").alias("d")
    ).collect()
    return {"per_type": {r.event_type: r.n for r in rows}, "duration_sum": sum(r.d or 0 for r in rows),
            "columns": sorted(df.columns)}


def _check_xml(ctx: Ctx, out: dict) -> str | None:
    truth = ctx.inputs["xe"]["truth"]
    errs = []
    if out["per_type"] != truth["per_type"]:
        errs.append(f"per-type {out['per_type']} != {truth['per_type']}")
    if out["duration_sum"] != truth["duration_sum"]:
        errs.append(f"duration sum {out['duration_sum']} != {truth['duration_sum']}")
    want_cols = {f"c_{f}" for fs in gen.XE_EVENTS.values() for f, _, _ in fs}
    want_cols |= {f"a_{a}" for a, _ in gen.XE_ACTIONS}
    if not want_cols <= set(out["columns"]):
        errs.append(f"missing columns {sorted(want_cols - set(out['columns']))}")
    return "; ".join(errs) or None


def _ingest_extra(ctx: Ctx) -> dict:
    """Store size figures, read from the filesystem after a pass."""
    ev, xe = ctx.inputs["events"], ctx.inputs["xe"]
    n_files = n_bytes = 0
    for sub in ("store", "store_lineage", "xml_store"):
        for dirpath, _, names in os.walk(os.path.join(ctx.pass_dir, sub)):
            for n in names:
                if n.startswith("part-"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, n))
    events = (
        ev["truth"]["initial"]["events"] + ev["truth"]["late"]["events"] + xe["rows"]
    )
    return {
        "ingest.files_written": n_files,
        "ingest.bytes_written_per_event": n_bytes / events,
        "ingest.stored_bytes_per_input_byte": n_bytes / (ev["bytes"] + xe["bytes"]),
    }


# ----------------------------------------------------------- graph_ann
_ANN_QUERY_IDS = [0, 1, 2, 3, 4]
_ANN_K = 5
_SCALE = 1000


def _graph_ann_inputs(seed: int, root: str) -> dict:
    s = SIZES["graph_ann"]
    sf = os.path.join(root, "sf")
    emb = gen.write_embeddings(seed, sf, s["embeddings"])
    docs = gen.write_documents(seed, sf, s["documents"], s["doc_bases"])
    return {"sf_dir": sf, "embeddings": emb, "documents": docs, "exact": exact_topk(sf)}


def exact_topk(sf_dir: str, query_ids=_ANN_QUERY_IDS, k=_ANN_K) -> dict[int, list[int]]:
    """Exact top-k by quantized dot product, in numpy, with the engine's
    quantization (round half away from zero of ``v × 1000``) and tie-break
    (dot descending, candidate id ascending), self excluded."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy().astype(np.float64)
    x = flat.reshape(len(ids), -1) * _SCALE
    q = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
    out = {}
    for qid in query_ids:
        dots = q @ q[ids == qid][0]
        order = np.lexsort((ids, -dots))
        out[qid] = [int(ids[i]) for i in order if ids[i] != qid][:k]
    return out


def _topk_sets(pdf) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for qid, cid in zip(pdf["query_id"].tolist(), pdf["candidate_id"].tolist()):
        out.setdefault(int(qid), set()).add(int(cid))
    return out


def oracle_check(name: str):
    """Compare a collected result with the query's DuckDB oracle, run on
    the workload's generated tables (exact, order-insensitive)."""

    def check(ctx: Ctx, pdf) -> str | None:
        import duckdb
        from xeloader_spark import queries
        from xeloader_spark.testing import compare_frames

        sf = ctx.inputs["sf_dir"]
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(sf)):
                table = f.removesuffix(".parquet")
                path = os.path.join(sf, f)
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            odf = con.execute(queries.all_oracles()[name]).df()
        finally:
            con.close()
        res = compare_frames(name, pdf, odf)
        return None if res.ok else f"differs from its oracle: {res.detail}"

    return check


def all_checks(*checks):
    def check(ctx: Ctx, out) -> str | None:
        return "; ".join(e for e in (c(ctx, out) for c in checks) if e) or None

    return check


def _check_exact(ctx: Ctx, pdf) -> str | None:
    exact = ctx.inputs["exact"]
    got = {
        q: [int(c) for c in g.sort_values("rk")["candidate_id"]]
        for q, g in pdf.groupby("query_id")
    }
    return None if got == exact else f"exact top-k {got} != numpy {exact}"


def _check_recall(ctx: Ctx, pdf) -> str | None:
    exact = ctx.inputs["exact"]
    got = _topk_sets(pdf)
    recall = sum(len(got.get(q, set()) & set(v)) / len(v) for q, v in exact.items()) / len(exact)
    ctx.inputs.setdefault("recall", []).append(recall)
    # A floor, not the value: the value is reported as ``ann.recall_at_k``.
    return None if recall >= 0.2 else f"recall@{_ANN_K} {recall:.3f} below 0.2"


def _graph_ann_extra(ctx: Ctx) -> dict:
    r = ctx.inputs.get("recall") or [0.0]
    return {"ann.recall_at_k": sum(r) / len(r)}


# ------------------------------------------------------------ registry
WORKLOADS = {
    "xe_ingest": Workload(
        name="xe_ingest",
        make_inputs=_ingest_inputs,
        ops=[
            Op("load_parquet", _load_parquet, _check_load(("initial",)), _store_readback, True),
            Op("load_incremental", _load_incremental, _check_load(("initial", "late")), _store_readback, True),
            Op("load_xml", _load_xml, _check_xml, _xml_readback, True),
        ],
        warmup_passes=1,
        nominal_pass_s=6.0,
        extra=_ingest_extra,
    ),
    "graph_ann": Workload(
        name="graph_ann",
        make_inputs=_graph_ann_inputs,
        ops=[
            query_op("q_dedup_clusters", oracle_check("q_dedup_clusters")),
            query_op("q_ann_topk_dot", _check_exact),
            query_op(
                "q_ann_topk_lsh_banded",
                all_checks(_check_recall, oracle_check("q_ann_topk_lsh_banded")),
            ),
        ],
        warmup_passes=1,
        nominal_pass_s=4.0,
        extra=_graph_ann_extra,
    ),
}
