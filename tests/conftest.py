from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest
from pyspark import SparkContext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xeloader_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="xeloader-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE


@pytest.fixture
def bpe_lcg_docs(spark):
    """One document of 80 distinct pseudo-random 12-char words from a
    fixed LCG: ~880 collapsible pairs, far more merges than any BPE test
    asks for."""
    alpha = "abcdefghijklmnop"
    state, words = 12345, []
    for _ in range(80):
        chars = []
        for _ in range(12):
            state = (state * 1103515245 + 12345) % (2**31)
            # high bits: LCG low bits cycle with a tiny period
            chars.append(alpha[(state >> 16) % len(alpha)])
        words.append("".join(chars))
    return spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])


def _clear_checkpoint_dir(sc) -> None:
    # PySpark has no unset; the JVM field setter returns
    # getCheckpointDir() to None
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


@pytest.fixture
def session_checkpoint_dir(spark, tmp_path):
    """A context manager that sets the SparkContext checkpoint directory
    (a fresh one under `tmp_path`) for its body and clears it on exit —
    the session switch `plans.truncate.round_truncate` reads to take the
    reliable path."""
    sc = spark.sparkContext

    @contextmanager
    def active():
        sc.setCheckpointDir(str(tmp_path / "ck"))
        try:
            yield sc.getCheckpointDir()
        finally:
            _clear_checkpoint_dir(sc)

    return active


@pytest.fixture(autouse=True)
def _no_leaked_checkpoint_dir():
    """Fail a test that leaves a SparkContext checkpoint directory set:
    every later test would quietly truncate through reliable checkpoints
    instead of the default executor-local path."""
    yield
    sc = SparkContext._active_spark_context
    if sc is not None and sc.getCheckpointDir() is not None:
        leaked = sc.getCheckpointDir()
        _clear_checkpoint_dir(sc)
        pytest.fail(f"test left the checkpoint directory set: {leaked}")
