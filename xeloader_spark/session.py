"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
settings are cluster-safe: AQE re-plans shuffles at runtime, shuffle
partitions default to the core count locally but should be sized to
``max(2 * total_cores, input_bytes / 128MB)`` on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Arrow rows-per-batch for EVERY Arrow boundary in the session (the
# mapInArrow kernels AND any arrow-enabled scalar UDF / toPandas path —
# the setting is session-global, ADVICE r13 #2, hence one named
# constant instead of duplicated literals). 64k rows amortizes the
# numpy matmuls of the narrow (id, long-array) kernels; Spark 4's
# maxBytesPerBatch (64 MB default) still caps wide rows by bytes.
ARROW_RECORDS_PER_BATCH = 65536

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "xeloader-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE on (runtime shuffle coalescing, skew-join splitting) — at 100 TB
      this is what keeps a static partition count from being wrong.
    - UTC session timezone: the engine's canonical time is UTC (reference
      stores `e_Time_Of_Event_utc` precisely for this,
      XELoader/InputParameters.cs:622-626); local-time is a projection.
    - Arrow enabled for any pandas interchange (vectorized UDF boundary).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # One BLAS/OMP thread per Python worker: Spark already runs `cpus`
    # workers side-by-side, so per-process thread pools (numpy links
    # OpenBLAS/MKL) would oversubscribe the box cpus× during pandas-UDF
    # stages. Workers inherit the driver env — set before they spawn.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # The mapInArrow kernels pickle this package's functions by reference,
    # so Python workers must import it even when the driver found it
    # through sys.path alone: put its parent directory on their path,
    # ahead of any PYTHONPATH already set.
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Fixture timestamps are parquet MICROS without UTC adjustment;
        # read them as session TIMESTAMP (UTC), not TIMESTAMP_NTZ, so
        # tz-aware functions (unix_micros, from_utc_timestamp…) resolve.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1/§9): same results,
        # no sort pass. Applies at any scale; the SHJ size conditions
        # still gate the choice.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # AQE's runtime SMJ→SHJ rewrite (guide §3.1): fires only when
        # every post-shuffle partition of the build side measures under
        # the threshold, so it is gated on actual bytes, not cluster
        # shape. 64 MB pairs with the AQE advisory partition size.
        # r13 interleaved sweep at sf0.1: kcore 7.73→6.54, golden
        # records 3.74→3.19, label-prop 5.08→4.79, rest within noise.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # Arrow serialization for any scalar @udf boundary (guide §4.3);
        # the engine's hot paths are UDF-free, this covers the rest.
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # Bigger Arrow batches for the mapInArrow paths (guide §4.2:
        # "raise it for narrow numeric data"): the PQ/IVFPQ/classifier
        # kernels cross as (id, long-array) rows, where 10k-row batches
        # under-amortize the numpy matmul per batch. Safe for wide rows:
        # Spark 4's maxBytesPerBatch (default 64 MB) still caps batches
        # by bytes, and the multimodal blob paths measured flat under
        # this setting. r13 interleaved A/B at sf0.1: q_ann_topk_pq
        # 2.21→2.02, q_ann_topk_ivfpq 3.80→3.55, classifier ~flat,
        # q_shot_boundaries/q_image_phash_neardup flat.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally provided session
    (the driver hands us one; memory/master are fixed by then)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # r13 (guide §3.1/§9): a driver-provided session otherwise runs at
    # the 10 MB default broadcast threshold and always prefers
    # sort-merge — align it with the factory so dimension joins
    # broadcast and bounded joins may hash instead of sort. Both are
    # plan-strategy knobs; results are identical.
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
    )
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        str(64 * 1024 * 1024),
    )
    spark.conf.set("spark.sql.execution.pythonUDF.arrow.enabled", "true")
    # Narrow-numeric Arrow batches amortize better at 64k rows; the
    # byte-size cap (maxBytesPerBatch, 64 MB default) still governs wide
    # rows. See get_spark for the r13 A/B numbers.
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(ARROW_RECORDS_PER_BATCH),
    )
    return spark
