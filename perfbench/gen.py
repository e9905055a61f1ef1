"""Seeded input generator for the benchmark workloads.

Every input the benchmark feeds the engine is made here from one integer
seed: the same seed gives byte-identical files, another seed gives other
files. Generation is the benchmark's own work, so callers run it before
the clock for ``setup_s`` starts.

Produces:

- event parquet files in the fixture ``events`` schema, one XE session
  split into files, with files whose ``props`` are malformed often enough
  that the ingest error budget aborts them, and one file from a foreign
  session that the session gate must skip;
- XE XML event files (one ``<event>`` document per line) with their XEM
  metadata sidecar;
- clustered unit embeddings in the fixture ``embeddings`` schema;
- documents in the fixture ``documents`` schema, made of seeded base
  texts and perturbed near-copies of them.

Each writer returns a plain dict of what it wrote and the truth the
benchmark checks the engine's output against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SESSION = "xe_trace"
FOREIGN_SESSION = "sys_health"
# ingest.IngestConfig.max_errors_per_file: a file with at least this many
# malformed payloads is aborted.
ERROR_BUDGET = 100
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_SPAN_US = 30 * 86_400_000_000  # thirty days

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per input kind, so resizing one input
    leaves the others unchanged for the same seed."""
    key = [int(seed) & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return os.path.getsize(path)


# ------------------------------------------------------------------ events
def event_rows(rng: np.random.Generator, n: int, first_id: int, n_users: int) -> dict:
    """Columns of ``n`` well-formed events with ids ``first_id…``."""
    ts = np.sort(_T0_US + rng.integers(0, _SPAN_US, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(1, n_users + 1, n).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), n)
        ],
        "value": np.round(rng.uniform(0.01, 500.0, n), 2),
        "props": np.asarray(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object
        ),
    }


def _events_table(cols: dict) -> pa.Table:
    return pa.table(
        [
            pa.array(cols["event_id"], pa.int64()),
            pa.array(cols["ts"], pa.timestamp("us")),
            pa.array(cols["user_id"], pa.int64()),
            pa.array(cols["event_type"], pa.string()),
            pa.array(cols["value"], pa.float64()),
            pa.array(cols["props"], pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


@dataclass(frozen=True)
class EventFilesSpec:
    n_files: int  # files of the main session, corrupt ones included
    rows_per_file: int
    n_corrupt: int  # files whose malformed rows reach the error budget
    n_late: int  # main-session files that appear only after the first load
    n_users: int = 1500


def write_event_files(seed: int, root: str, spec: EventFilesSpec) -> dict:
    """Event parquet files as an XE session leaves them.

    ``root/initial`` holds the files present at the first load, including
    the corrupt and the foreign-session ones; ``root/late`` holds files
    that appear later, for the incremental load. Every main-session file
    carries a few malformed payloads below the budget, so the per-row
    error gate is exercised on every file; corrupt files carry more than
    the budget and must be aborted whole."""
    rng = _rng(seed, "event_files")
    initial, late = os.path.join(root, "initial"), os.path.join(root, "late")
    os.makedirs(initial, exist_ok=True)
    os.makedirs(late, exist_ok=True)
    n_main = spec.n_files
    corrupt = set(rng.choice(n_main - spec.n_late, spec.n_corrupt, replace=False).tolist())
    truth = {"initial": _empty_truth(), "late": _empty_truth()}
    files = {"initial": [], "late": []}
    total_bytes = 0
    next_id = 0
    for i in range(n_main + 1):
        foreign = i == n_main
        phase = "late" if (n_main - spec.n_late <= i < n_main) else "initial"
        cols = event_rows(rng, spec.rows_per_file, next_id, spec.n_users)
        next_id += spec.rows_per_file
        n_bad = (
            ERROR_BUDGET + int(rng.integers(0, 50))
            if i in corrupt
            else int(rng.integers(0, ERROR_BUDGET // 10))
        )
        bad = rng.choice(spec.rows_per_file, n_bad, replace=False)
        props = cols["props"].copy()
        for j in bad:
            props[j] = props[j][:-1]  # drop the closing brace
        cols["props"] = props
        session = FOREIGN_SESSION if foreign else SESSION
        name = f"{session}_{i:03d}_{133500000000000000 + i * 1000}.parquet"
        path = os.path.join(late if phase == "late" else initial, name)
        total_bytes += _write_parquet(_events_table(cols), path)
        files[phase].append(name)
        t = truth[phase]
        if foreign:
            t["foreign_files"].append(name)
            continue
        t["files"].append(name)
        if i in corrupt:
            t["aborted_files"].append(name)
            continue
        ok = np.ones(spec.rows_per_file, dtype=bool)
        ok[bad] = False
        t["events"] += int(ok.sum())
        t["errors"] += n_bad
        types, counts = np.unique(cols["event_type"][ok].astype(str), return_counts=True)
        for ty, c in zip(types.tolist(), counts.tolist()):
            t["per_type"][ty] = t["per_type"].get(ty, 0) + c
    return {
        "files": files,
        "truth": truth,
        "rows": next_id,
        "bytes": total_bytes,
    }


def _empty_truth() -> dict:
    return {
        "files": [],
        "aborted_files": [],
        "foreign_files": [],
        "events": 0,
        "errors": 0,
        "per_type": {},
    }


# --------------------------------------------------------------------- XML
# event name → [(field, XEvent type, nested <text> form?)]
XE_EVENTS = {
    "wait_info": [
        ("duration", "uint64", False),
        ("wait_type", "unicode_string", True),
        ("signal_duration", "uint64", False),
    ],
    "sql_batch_completed": [
        ("duration", "uint64", False),
        ("cpu_time", "uint64", False),
        ("logical_reads", "uint64", False),
        ("batch_text", "unicode_string", False),
    ],
    "error_reported": [
        ("error_number", "int32", False),
        ("severity", "int32", False),
        ("message", "unicode_string", False),
    ],
}
XE_ACTIONS = [("session_id", "uint16"), ("database_name", "unicode_string")]
_WAIT_TYPES = ("PAGEIOLATCH_SH", "LCK_M_X", "CXPACKET", "SOS_SCHEDULER_YIELD")
_DB_NAMES = ("master", "sales", "tempdb", "ops & logs")


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xe_xml(seed: int, root: str, n_files: int, events_per_file: int) -> dict:
    """XE event files in the public ``fn_xe_file_target_read_file`` XML
    form, one document per line, plus ``root/session.xem``, the metadata
    sidecar declaring every field and action with its XEvent type."""
    rng = _rng(seed, "xe_xml")
    xml_dir = os.path.join(root, "xml")
    os.makedirs(xml_dir, exist_ok=True)
    names = sorted(XE_EVENTS)
    per_type = {n: 0 for n in names}
    duration_sum = 0
    total_bytes = 0
    for f in range(n_files):
        kinds = rng.integers(0, len(names), events_per_file)
        ts = np.sort(_T0_US + rng.integers(0, _SPAN_US, events_per_file))
        nums = rng.integers(0, 1_000_000, (events_per_file, 4))
        sess = rng.integers(50, 500, events_per_file)
        dbs = rng.integers(0, len(_DB_NAMES), events_per_file)
        lines = []
        for j in range(events_per_file):
            name = names[kinds[j]]
            per_type[name] += 1
            stamp = np.datetime64(int(ts[j]), "us").astype(str)
            parts = [f'<event name="{name}" package="sqlserver" timestamp="{stamp}Z">']
            for c, (field, xtype, nested) in enumerate(XE_EVENTS[name]):
                if xtype == "unicode_string":
                    if field == "wait_type":
                        val = _WAIT_TYPES[nums[j, c] % len(_WAIT_TYPES)]
                    else:
                        val = f"select {nums[j, c] % 997} from t where a < {c}"
                else:
                    val = str(int(nums[j, c]))
                    if field == "duration":
                        duration_sum += int(nums[j, c])
                v = _xml_escape(val)
                body = f"<value><text>{v}</text></value>" if nested else f"<value>{v}</value>"
                parts.append(f'<data name="{field}">{body}</data>')
            parts.append(
                f'<action name="session_id" package="sqlserver"><value>{sess[j]}</value></action>'
                f'<action name="database_name" package="sqlserver"><value>'
                f"{_xml_escape(_DB_NAMES[dbs[j]])}</value></action></event>"
            )
            lines.append("".join(parts))
        path = os.path.join(xml_dir, f"{SESSION}_{f:03d}_{133500000000000000 + f}.xml")
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
        total_bytes += os.path.getsize(path)
    xem = ["<metadata>"]
    for name in names:
        xem.append(f'  <event name="{name}" package="sqlserver">')
        xem += [f'    <data name="{f}" type="{t}"/>' for f, t, _ in XE_EVENTS[name]]
        xem.append("  </event>")
    xem += [f'  <action name="{a}" package="sqlserver" type="{t}"/>' for a, t in XE_ACTIONS]
    xem.append("</metadata>")
    xem_path = os.path.join(root, "session.xem")
    with open(xem_path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\n".join(xem) + "\n")
    return {
        "dir": xml_dir,
        "xem": xem_path,
        "rows": n_files * events_per_file,
        "bytes": total_bytes,
        "truth": {"per_type": per_type, "duration_sum": duration_sum},
    }


# -------------------------------------------------------------- embeddings
def clustered_unit_vectors(
    rng: np.random.Generator, n: int, dim: int, n_clusters: int, spread: float
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 unit vectors drawn around ``n_clusters`` random unit
    centres; returns (vectors, cluster label per vector)."""
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    v = centres[labels] + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def write_embeddings(
    seed: int, out_dir: str, n: int, dim: int = 64, n_clusters: int = 10, spread: float = 0.6
) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    vecs, labels = clustered_unit_vectors(_rng(seed, "embeddings"), n, dim, n_clusters, spread)
    table = pa.table(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), dim).cast(
                pa.list_(pa.float32())
            ),
            pa.array(labels),
        ],
        schema=EMBEDDINGS_SCHEMA,
    )
    path = os.path.join(out_dir, "embeddings.parquet")
    return {"rows": n, "bytes": _write_parquet(table, path)}


# --------------------------------------------------------------- documents
_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big window row table stream merge data key the join "
    "vector customer event trace session file load store index page lock wait"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "zh")


def write_documents(seed: int, out_dir: str, n_docs: int, n_bases: int) -> dict:
    """``n_docs`` documents: ``n_bases`` seeded base texts, each followed by
    perturbed copies (a few tokens replaced, dropped or inserted), so the
    corpus holds near-duplicate clusters of varied tightness."""
    rng = _rng(seed, "documents")
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.asarray(_VOCAB, dtype=object)
    bases = [
        list(vocab[rng.integers(0, len(vocab), int(rng.integers(12, 60)))])
        for _ in range(n_bases)
    ]
    texts, langs, sources = [], [], []
    for d in range(n_docs):
        b = int(rng.integers(0, n_bases))
        toks = list(bases[b])
        if d >= n_bases:  # the first n_bases documents are the bases verbatim
            for _ in range(int(rng.integers(0, max(2, len(toks) // 8)))):
                op, pos = int(rng.integers(0, 3)), int(rng.integers(0, len(toks)))
                word = str(vocab[rng.integers(0, len(vocab))])
                if op == 0:
                    toks[pos] = word
                elif op == 1 and len(toks) > 4:
                    del toks[pos]
                else:
                    toks.insert(pos, word)
        else:
            b = d
        texts.append(" ".join(toks))
        langs.append(_LANGS[b % len(_LANGS)])
        sources.append(f"src{int(rng.integers(0, 8))}")
    table = pa.table(
        [
            pa.array(np.arange(n_docs, dtype=np.int64)),
            pa.array(texts, pa.string()),
            pa.array(langs, pa.string()),
            pa.array(sources, pa.string()),
            pa.array([len(t) for t in texts], pa.int64()),
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    path = os.path.join(out_dir, "documents.parquet")
    return {"rows": n_docs, "bytes": _write_parquet(table, path)}
