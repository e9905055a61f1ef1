"""Streaming sorted-neighborhood near-dup (per-key neighborhood as state).

The streaming twin of `operators.dedup.sorted_neighborhood_pairs`
(Hernández & Stolfo's merge/purge): the batch operator sorts the corpus
by a normalized blocking key and verifies only pairs ≤ `window` apart in
the sorted order. A stream cannot hold a global sorted order, but it can
hold each KEY's tail: state is keyed by the same blocking key (the
lowercased first `KEY_TOKENS` tokens), and each key group retains its
last `WINDOW` arrivals (id + distinct-shingle set) plus a running
arrival index. An arriving doc is verified against exactly that retained
neighborhood — the same O(window) fan-out per doc the batch operator has
by construction, with the same exact-rational Jaccard threshold.

Parity contract (pinned in tests/test_streaming.py): under ascending-id
arrival, a key's arrival order IS the batch sort order of that key's run
(the batch rank sorts by (key, id), and a key's run is contiguous), so
the stream emits EXACTLY the batch operator's same-key pairs — equal
(id_a, id_b, rank_gap, n_common, jaccard), because the within-run index
gap equals the batch global-rank gap. The batch rows a stream cannot
see are the CROSS-key pairs (a window straddling a key boundary in the
global sort): that is the streaming recall trade, documented here the
way the batch docstring documents SNM's own window-miss trade; the
batch operator is the reconciliation path, as for every twin.

State per key is `WINDOW` (id, shingle-set) members + a counter — a
TRUE bound of O(keys × window × doc_shingles), unlike bucket-membership
twins whose hot buckets grow (the retention IS the semantics here, not
a cap). Docs whose shingle set is empty (fewer than `SHINGLE_N` tokens)
still occupy neighborhood slots and advance the index, exactly like
their rank positions in the batch sort; they just never verify. At
100 TB: RocksDB state store; the blocking key in the state key keeps
every shard independently small.

Shingle serialization: tokens come from splitting on whitespace and
shingles join tokens with single spaces, so NO shingle can contain a
newline — '\\n' is a collision-free member separator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from xeloader_spark.operators.text import _tok_array, ngram_array_sql

# keep in sync with queries/dedup._SNM_WINDOW/_SNM_KEY_TOKENS — the
# batch-parity test compares against q_sorted_neighborhood_pairs' shape
WINDOW = 5
KEY_TOKENS = 3
SHINGLE_N = 3
THRESHOLD_NUM = 1
THRESHOLD_DEN = 2

_SEP = "\n"

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("rank_gap", T.LongType()),
        T.StructField("n_common", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)

# parallel arrays: retained member indices, ids, and '\n'-joined
# distinct-shingle sets; next_idx is the arrival index to assign next
STATE_SCHEMA = T.StructType(
    [
        T.StructField("next_idx", T.LongType()),
        T.StructField("idxs", T.ArrayType(T.LongType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("shs", T.ArrayType(T.StringType())),
    ]
)


def _key_stitch(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        next_idx, idxs, ids, shs = state.get
        idxs, ids = list(idxs), list(ids)
        sets = [frozenset(s.split(_SEP)) if s else frozenset() for s in shs]
        next_idx = int(next_idx)
    else:
        next_idx, idxs, ids, sets = 0, [], [], []
    rows = sorted(
        (int(r.id), frozenset(r.sh))
        for pdf in pdfs
        for r in pdf.itertuples()
    )
    out: list[tuple[int, int, int, int, float]] = []
    for nid, nset in rows:
        if nset:
            for m_idx, mid, mset in zip(idxs, ids, sets):
                if not mset:
                    continue
                common = len(nset & mset)
                union = len(nset) + len(mset) - common
                # exact rational threshold — float-free, like the batch op
                if common * THRESHOLD_DEN >= union * THRESHOLD_NUM:
                    out.append(
                        (mid, nid, next_idx - m_idx, common, common / union)
                    )
        idxs.append(next_idx)
        ids.append(nid)
        sets.append(nset)
        next_idx += 1
        if len(idxs) > WINDOW:
            idxs, ids, sets = idxs[-WINDOW:], ids[-WINDOW:], sets[-WINDOW:]
    state.update(
        (next_idx, idxs, ids, [_SEP.join(sorted(s)) for s in sets])
    )
    if out:
        yield pd.DataFrame(
            out, columns=["id_a", "id_b", "rank_gap", "n_common", "jaccard"]
        )


def streaming_snm_neardup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents stream → same-key sorted-neighborhood near-dup pairs
    (id_a < id_b under the ascending-id arrival contract). Append mode:
    each pair is an immutable fact of the micro-batch its id_b arrived
    in."""
    sh = f"array_distinct({ngram_array_sql('_toks', SHINGLE_N)})"
    key_sql = f"lower(array_join(slice(_toks, 1, {KEY_TOKENS}), ' '))"
    keyed = docs.select(
        F.col(id_col).alias("id"), F.expr(_tok_array(text_col)).alias("_toks")
    ).select(
        "id", F.expr(key_sql).alias("sk"), F.expr(sh).alias("sh")
    )
    return keyed.groupBy("sk").applyInPandasWithState(
        _key_stitch,
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
