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

import os
import pathlib
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

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


def _kmeans(df, k):
    return {
        r.vec_id: (r.cluster, r.dist)
        for r in cls.kmeans_exact(df, k=k, iters=2).collect()
    }


def _split(out):
    return {i: v for i, v in out.items() if i in BAD}, {
        i: v for i, v in out.items() if i not in BAD
    }


def test_kmeans_and_pq_seed_only_valid_vectors(corpora):
    # 12 seeds by (md5(id), id) reach the 2-wide row: it must not seed
    hostile, clean = corpora
    bad, good = _split(_kmeans(hostile, 12))
    assert bad == dict.fromkeys(BAD, (None, None))
    assert good == _kmeans(clean, 12)
    fit = [cls.pq_fit(df, m=2, sub_k=12, iters=2).codebooks for df in corpora]
    assert fit[0] == fit[1]


def test_lloyd_updates_skip_null_cluster_rows(spark):
    # the NULL-component row is the only one without a cluster or codes,
    # so its NULL component would be the whole NULL group's sum
    clean = _clean_rows()
    hostile = _frame(spark, clean[:5] + [(HOLE_ID, _HOSTILE[HOLE_ID])] + clean[5:])
    clean = _frame(spark, clean)
    got = _kmeans(hostile, 4)
    assert got.pop(HOLE_ID) == (None, None)
    assert got == _kmeans(clean, 4)
    fit = [cls.pq_fit(df, m=2, sub_k=4, iters=2).codebooks for df in (hostile, clean)]
    assert fit[0] == fit[1]


@pytest.mark.parametrize("bad_id", sorted(BAD))
def test_kcenter_seeds_from_a_valid_vector(corpora, bad_id):
    # the invalid row `bad_id` takes the smallest id, so it sorts first
    hostile, clean = corpora
    first = hostile.withColumn(
        "vec_id",
        F.when(F.col("vec_id") == bad_id, F.lit(-1)).otherwise(F.col("vec_id")),
    )
    got = _rows(cls.kcenter_select(first, k=5))
    assert got == _rows(cls.kcenter_select(clean, k=5))
    assert got[0][:2] == (0, 0)


def test_lsh_banded_skips_invalid_queries_and_candidates(corpora):
    hostile, clean = corpora
    got = _rows(sim.lsh_ann_topk_banded(hostile, QUERIES, k=5))
    want = _rows(sim.lsh_ann_topk_banded(clean, QUERIES, k=5))
    assert got == want and want
    assert not {q for q, c, *_ in got} & BAD
    assert not {c for q, c, *_ in got} & BAD


def _graph_ann_embeddings(spark, tmp_path):
    """The graph_ann benchmark's embeddings (1200 × 64, clustered)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
    import gen

    gen.write_embeddings(2301, str(tmp_path), 1200)
    return spark.read.parquet(str(tmp_path / "embeddings.parquet"))


def test_driver_band_codes_equal_kernel(spark, tmp_path):
    """The query side's driver band codes equal the corpus kernel's
    signatures for every vector, so querying with any id collides with
    exactly the buckets the corpus-filtered query side did."""
    emb = _graph_ann_embeddings(spark, tmp_path)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    driver = sim._query_bands(emb, ids, 8, 4, "vec_id", "embedding", 1000, 42, 64)
    kernel = sim.banded_quantized_signatures(emb, 8, 4).select(
        F.col("id").alias("query_id"),
        F.col("qarr").alias("q_qarr"),
        F.col("band").alias("q_band"),
        F.col("bsig").alias("q_bsig"),
    )
    assert driver.schema == kernel.schema
    assert driver.count() == 8 * len(ids)
    assert driver.exceptAll(kernel).isEmpty() and kernel.exceptAll(driver).isEmpty()


# --------------------------------------------------------- local_frame
# every schema a `local_frame` call site declares
_SCHEMAS = [
    "round long, vec_id long, dist_at_selection long",
    "query_id long, cluster int",
    "query_id long, q_qarr array<bigint>",
    "query_id long, q_qarr array<bigint>, q_band int not null, q_bsig long",
    "node bigint, cluster bigint",
    "node int, cluster int",
    "node string, cluster string",
    "_gr_pid int, _gr_offset long",
    "_gs_pid int, _gs_offset long",
    "list_id long, centroid array<double>",
    "merge_round int, left_sym string, right_sym string, n long",
    "n_orders long, orders_orphans long, n_lineitem long,"
    " lineitem_orphans long, n_customer long, customer_orphans long",
    "check_name string, n_violations long, passed boolean",
    "n_true long, n_cand long, n_cand_true long",
    "n_true long, n_pass1 long, n_multipass long",
    "warc_file string, warc_blob string",
    "host string, prefix string, allow boolean",
    "phrase string",
    "query_id bigint",
    "host string, robots_txt string",
]


def _value(dtype, i: int):
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        if isinstance(dtype.elementType, T.LongType):
            return [2**40, None, -i]
        return [0.5 * i, None, -1e300]
    return {
        T.LongType: 2**40 + i,
        T.IntegerType: -i,
        T.StringType: f"s{i}é",
        T.BooleanType: i % 2 == 0,
    }[type(dtype)]


@pytest.mark.parametrize("schema", _SCHEMAS + ["lineage"])
@pytest.mark.parametrize("shape", ["values_and_nulls", "empty"])
def test_local_frame_equals_list_frame(spark, schema, shape):
    from pyspark.sql.types import _parse_datatype_string

    from xeloader_spark.operators.ingest import LINEAGE_SCHEMA
    from xeloader_spark.operators.kernels import local_frame

    st = LINEAGE_SCHEMA if schema == "lineage" else _parse_datatype_string(schema)
    rows = []
    if shape != "empty":
        rows = [tuple(_value(f.dataType, i) for f in st.fields) for i in range(3)]
        rows.append(tuple(None if f.nullable else 0 for f in st.fields))
    spec = LINEAGE_SCHEMA if schema == "lineage" else schema
    got, want = local_frame(spark, rows, spec), spark.createDataFrame(rows, spec)
    assert got.schema == want.schema
    assert [f.nullable for f in got.schema] == [f.nullable for f in want.schema]
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == (
        "LocalRelation"
    )


def test_local_frame_centroids_keep_inferred_types(spark):
    """The IVF centroid frame used to be inferred from Python values; its
    declared schema is exactly what inference gave."""
    from xeloader_spark.operators.kernels import local_frame

    rows = [(0, [0.25, -1.0]), (1, [3.0, 0.0])]
    inferred = spark.createDataFrame(rows, ["list_id", "centroid"])
    got = local_frame(spark, rows, "list_id long, centroid array<double>")
    assert got.schema == inferred.schema
    assert got.collect() == inferred.collect()


_NO_PYTHONPATH_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from xeloader_spark.operators.kernels import local_frame
from xeloader_spark.operators.similarity import dot_topk_quantized
from xeloader_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
emb = local_frame(
    spark,
    [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
    "vec_id long, embedding array<double>",
)
print(len(dot_topk_quantized(emb, [0], k=2).collect()))
spark.stop()
"""


def test_workers_import_package_without_pythonpath(tmp_path):
    """A driver that found the package through `sys.path` alone, running
    from a directory outside the repo with PYTHONPATH unset, still runs
    a Python-worker kernel: `get_spark` puts the package's parent
    directory on the workers' path."""
    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    script = tmp_path / "driver.py"
    script.write_text(_NO_PYTHONPATH_DRIVER.format(repo=repo))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "2"
