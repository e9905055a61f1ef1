"""Hostile-input contract of the Arrow kernels (`operators/kernels.py`).

A NULL embedding, one of the wrong width, or one with a NULL component
is invalid input. Wherever such rows sit in the corpus, every kernel
must give the valid rows exactly the output it gives on the corpus with
the invalid rows removed, and treat the invalid rows the way the SQL
forms the kernels replaced did: no pair, no band row, a NULL signature
(which never equi-joins), or a kept row with NULL cluster/codes.

The embedding width is the first non-NULL row's (`similarity._vec_dim`),
so the corpus always starts with a full-width row or the NULL row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from xeloader_spark.operators import cluster as cls
from xeloader_spark.operators import similarity as sim
from xeloader_spark.operators.kernels import int_matrix, list_flat

DIM = 8
NULL_ID, SHORT_ID, HOLE_ID = 100, 101, 102
BAD = {NULL_ID, SHORT_ID, HOLE_ID}
QUERIES = [0, 7, 19, NULL_ID, SHORT_ID, HOLE_ID]


def _clean_rows():
    rng = np.random.default_rng(11)
    vecs = rng.uniform(-1.0, 1.0, size=(40, DIM)).round(3)
    return [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]


_HOSTILE = {
    NULL_ID: None,
    SHORT_ID: [0.5, -0.25],
    HOLE_ID: [0.1, None] + [0.2] * (DIM - 2),
}

# where each invalid row goes: index into the clean rows (0 = first)
PLACEMENTS = {
    "null_first": {NULL_ID: 0, SHORT_ID: 20, HOLE_ID: 40},
    "hole_second_short_last": {HOLE_ID: 1, NULL_ID: 13, SHORT_ID: 40},
}


def _frame(spark, rows):
    # contiguous slices in row order: several partitions, so the invalid
    # rows land in different Arrow batches, and the first row stays first
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module", params=sorted(PLACEMENTS))
def corpora(spark, request):
    clean = _clean_rows()
    hostile = list(clean)
    for vid, at in sorted(PLACEMENTS[request.param].items(), key=lambda t: -t[1]):
        hostile.insert(at, (vid, _HOSTILE[vid]))
    return _frame(spark, hostile), _frame(spark, clean)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_int_matrix_masks_invalid_rows():
    arr = pa.array(
        [[1, 2, 3], None, [4, 5], [6, None, 7], [8, 9, 10]],
        pa.list_(pa.int64()),
    ).slice(1)
    m, valid = int_matrix(arr, 3)
    assert valid.tolist() == [False, False, False, True]
    assert m.tolist() == [[0, 0, 0], [0, 0, 0], [0, 0, 0], [8, 9, 10]]
    offs, flat = list_flat(pa.array([[7], [1, 2], None, [3]]).slice(1))
    assert offs.tolist() == [0, 2, 2, 3] and flat.tolist() == [1, 2, 3]


def test_dot_topk_skips_invalid_queries_and_candidates(corpora):
    hostile, clean = corpora
    got = _rows(sim.dot_topk_quantized(hostile, QUERIES, k=5))
    want = _rows(sim.dot_topk_quantized(clean, QUERIES, k=5))
    assert got == want and want
    assert not {q for q, c, *_ in got} & BAD
    assert not {c for q, c, *_ in got} & BAD


def test_banded_signatures_drop_invalid_rows(corpora):
    hostile, clean = corpora
    cols = ["id", "band", "bsig"]
    got = _rows(sim.banded_quantized_signatures(hostile).select(*cols))
    assert got == _rows(sim.banded_quantized_signatures(clean).select(*cols))


def test_hyperplane_signature_is_null_for_invalid_rows(corpora):
    hostile, clean = corpora
    got = {
        r.id: r.sig
        for r in sim.quantized_hyperplane_signature(hostile).collect()
    }
    want = {
        r.id: r.sig for r in sim.quantized_hyperplane_signature(clean).collect()
    }
    assert {i: got[i] for i in BAD} == dict.fromkeys(BAD)
    assert {i: s for i, s in got.items() if i not in BAD} == want


def test_assign_keeps_invalid_rows_with_null_cluster(corpora):
    hostile, clean = corpora
    centroids = [[1000 + 40 * j] * DIM for j in range(3)]
    out = {}
    for name, df in (("hostile", hostile), ("clean", clean)):
        q = cls._quantized(df, "vec_id", "embedding", cls.SCALE)
        out[name] = {
            r.id: (r.cluster, r.dist) for r in cls._assign(q, centroids).collect()
        }
    assert {i: out["hostile"][i] for i in BAD} == dict.fromkeys(BAD, (None, None))
    assert {
        i: v for i, v in out["hostile"].items() if i not in BAD
    } == out["clean"]


def test_encode_codes_keeps_invalid_rows_with_null_codes(corpora):
    hostile, clean = corpora
    sub = DIM // 2
    codebooks = [[[1000 + 300 * j] * sub for j in range(3)] for _ in range(2)]
    out = {}
    for name, df in (("hostile", hostile), ("clean", clean)):
        q = cls._quantized(df, "vec_id", "embedding", cls.SCALE)
        out[name] = {
            r.id: (r.code_0, r.code_1)
            for r in cls._encode_codes(q, codebooks, sub).collect()
        }
    assert {i: out["hostile"][i] for i in BAD} == dict.fromkeys(BAD, (None, None))
    assert {
        i: v for i, v in out["hostile"].items() if i not in BAD
    } == out["clean"]
