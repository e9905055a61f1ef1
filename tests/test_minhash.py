"""The two MinHash signature builders agree: `minhash.row_signatures` (the
per-row streaming form) gives exactly the rows of `minhash.signatures`
over `dedup.shingles` (the batch aggregate), and documents without a
shingle get a row from neither."""

from __future__ import annotations

from xeloader_spark.catalog import load_table
from xeloader_spark.operators import dedup as dd
from xeloader_spark.operators import minhash
from xeloader_spark.operators.kernels import local_frame


def _assert_same(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).isEmpty()
    assert b.exceptAll(a).isEmpty()


def test_row_signatures_equal_aggregate_signatures(spark, sf_oracle_dir):
    docs = load_table(spark, sf_oracle_dir, "documents")
    row = minhash.row_signatures(docs, n=3, k=12)
    agg = minhash.signatures(dd.shingles(docs, n=3), k=12)
    _assert_same(row, agg)
    assert row.count() > 0


def test_row_signatures_skip_docs_without_shingles(spark):
    docs = local_frame(
        spark,
        [
            (1, "the quick brown fox jumps"),
            (2, "two tokens"),
            (3, ""),
            (4, None),
            (5, "  spaced   out\tthree  "),
            (6, "the quick brown fox jumps"),
        ],
        "doc_id long, text string",
    )
    row = minhash.row_signatures(docs, n=3, k=12)
    agg = minhash.signatures(dd.shingles(docs, n=3), k=12)
    _assert_same(row, agg)
    assert sorted(r.id for r in row.collect()) == [1, 5, 6]
    sig = {r.id: r[1:] for r in row.collect()}
    assert sig[1] == sig[6] and sig[1] != sig[5]
