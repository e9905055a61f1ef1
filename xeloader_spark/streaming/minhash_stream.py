"""Streaming incremental MinHash near-dup (band buckets as state).

The streaming twin of `operators.dedup.minhash_incremental`: the
historical corpus exists only as retained MinHash state, here sharded as
one state row-set per LSH band bucket. Each arriving document's
signature is a per-row PROJECTION (`minhash.row_signatures` — a
streaming pipeline cannot afford a per-doc aggregate; documents without a
shingle get no row), its `minhash.band_keys` route it to
`bands` buckets, and within each bucket the stateful stitcher emits a
candidate pair against every earlier member, scored by exact signature
agreement — the same estimate-only verify the batch operator uses once
original text is gone.

Emission semantics per (band bucket, micro-batch):
- ``in_snapshot = true``  — the match arrived in an EARLIER micro-batch
  (the batch operator's snapshot side);
- ``in_snapshot = false`` — the match is an earlier (smaller-id) doc of
  the SAME micro-batch (the batch operator's within-batch side).

A pair colliding in m bands is emitted m times (buckets are independent
state shards); the consumer dedupes on (new_id, match_id) — batch parity
is pinned set-wise in `tests/test_streaming.py` after exactly that
distinct, mirroring how the batch operator's own `.distinct()` collapses
multi-band candidates.

State per bucket is its members' (id, k×16-char signature) rows — the
LSH bucket-size property bounds it for honest corpora; boilerplate-hot
buckets are the same skew the batch `max_df`/prefix-filter levers exist
for (cap upstream). At 100 TB: RocksDB state store, and the bucket id
in the state key keeps every shard independently small.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from xeloader_spark.operators.minhash import band_keys, row_signatures

K = 12
BANDS = 4
ROWS = 3

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("new_id", T.LongType()),
        T.StructField("match_id", T.LongType()),
        T.StructField("in_snapshot", T.BooleanType()),
        T.StructField("n_agree", T.LongType()),
    ]
)

# state: parallel arrays — member ids and their '|'-joined signatures
STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.StringType())),
    ]
)


def _bucket_stitch(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    ids, sigs = state.get if state.exists else ([], [])
    ids, sigs = list(ids), [s.split("|") for s in sigs]
    n_old = len(ids)
    batch = pd.concat(list(pdfs))
    rows = sorted(
        (int(r.id), [getattr(r, f"h{s}") for s in range(K)])
        for r in batch.itertuples()
    )
    out: list[tuple[int, int, bool, int]] = []
    for new_id, sig in rows:
        for j, (mid, msig) in enumerate(zip(ids, sigs)):
            agree = sum(1 for a, b in zip(sig, msig) if a == b)
            out.append((new_id, mid, j < n_old, agree))
        ids.append(new_id)
        sigs.append(sig)
    state.update((ids, ["|".join(s) for s in sigs]))
    if out:
        yield pd.DataFrame(
            out, columns=["new_id", "match_id", "in_snapshot", "n_agree"]
        )


def streaming_minhash_neardup(
    docs: DataFrame,
    min_agree: int = 6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """documents stream → per-band candidate near-dup pairs with
    signature-agreement scores ≥ `min_agree`. Append mode: each pair is
    an immutable fact about the micro-batch its new side arrived in."""
    sigs = row_signatures(docs, n=n, k=K, text_col=text_col, id_col=id_col)
    long = band_keys(sigs, BANDS, ROWS, *[f"h{s}" for s in range(K)])
    pairs = long.groupBy("band_idx", "bk").applyInPandasWithState(
        _bucket_stitch,
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return pairs.filter(F.col("n_agree") >= min_agree)
