"""Streaming-parity tests (SURVEY §7.1 M6): the streamed ingest must
produce exactly what the batch ingest produces, and the watermarked
windowed aggregate must match the batch time-bucket aggregate on a
bounded input."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xeloader_spark.catalog import load_table
from xeloader_spark.operators.ingest import IngestConfig, flatten_events
from xeloader_spark.streaming import ingest_stream as st

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_in(spark, tmp_path_factory):
    """events fixture written as a 3-file parquet directory with the
    micro-precision ts materialized (stream schema wants TimestampType)."""
    root = str(tmp_path_factory.mktemp("stream_in"))
    ev = load_table(spark, SF, "events")
    ev.repartition(3).write.mode("overwrite").parquet(root)
    return root


def test_stream_demux_matches_batch(spark, stream_in, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = st.read_event_stream(spark, stream_in, max_files_per_trigger=2)
    flat = st.streaming_flatten(stream)
    q = st.start_demux_sink(flat, out, ckpt, trigger_once=True)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    ev = load_table(spark, SF, "events")
    assert got.count() == ev.count()
    # demux partition dirs exist per type
    types = {r.event_type for r in got.select("event_type").distinct().collect()}
    assert types == {"click", "error", "purchase", "signup", "view"}
    # flat schema matches the batch flatten contract
    batch_cols = set(flatten_events(ev.withColumn("e_source_file", F.input_file_name()), IngestConfig()).columns)
    assert set(got.columns) == batch_cols

    # restart with same checkpoint: no reprocessing (file-source exactly-once)
    q2 = st.start_demux_sink(
        st.streaming_flatten(st.read_event_stream(spark, stream_in)), out, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == ev.count()


def test_windowed_agg_matches_batch(spark, stream_in, tmp_path):
    ckpt = str(tmp_path / "ckpt_agg")
    stream = st.read_event_stream(spark, stream_in)
    q = st.start_windowed_agg(stream, ckpt, window="1 minute", watermark="5 minutes")
    q.awaitTermination(120)
    got = spark.sql("select * from windowed_agg")

    ev = load_table(spark, SF, "events")
    exp = (
        ev.groupBy(F.date_trunc("minute", F.col("ts")).alias("bucket_ts"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
    )
    # append-mode emits only windows older than the watermark; on a bounded
    # availableNow run the final watermark still holds back the tail, so
    # compare on the emitted subset and require substantial coverage
    emitted = {
        (r.bucket_ts, r.event_type): (r.n_events, r.sum_value) for r in got.collect()
    }
    expected = {
        (r.bucket_ts, r.event_type): (r.n_events, r.sum_value) for r in exp.collect()
    }
    assert len(emitted) > 0.5 * len(expected)
    for k, v in emitted.items():
        assert expected[k] == v, k


def test_streaming_dedup_drops_redeliveries(spark, tmp_path):
    """An at-least-once input (every event delivered twice, in two files)
    must come out exactly-once, matching the batch distinct."""
    src = str(tmp_path / "dup_in")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    ev = load_table(spark, SF, "events").limit(2000).cache()
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)  # the redelivery

    stream = st.read_event_stream(spark, src, max_files_per_trigger=2)
    deduped = st.streaming_dedup(
        stream.drop("e_source_file"), key_cols=("event_id",), watermark="10 minutes"
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    n_expected = ev.count()
    assert spark.read.parquet(src).count() == 2 * n_expected
    assert got.count() == n_expected
    assert got.select("event_id").distinct().count() == n_expected
    ev.unpersist()


def test_streaming_cms_matches_batch(spark, stream_in, tmp_path):
    """Streamed count-min sketch == batch cms_build on the same rows:
    counts are commutative, so micro-batching must not change a single
    (d, bucket, cnt) cell; state stays sketch-sized throughout."""
    from xeloader_spark.operators import sketch as sk
    from xeloader_spark.streaming import sketch_stream as ss

    ckpt = str(tmp_path / "cms_ckpt")
    stream = st.read_event_stream(spark, stream_in, max_files_per_trigger=1)
    q = ss.start_cms(stream, ckpt, "user_id", width=32, depth=3, salt="scms")
    q.awaitTermination(120)

    got = {
        (r.d, r.bucket): r.cnt for r in spark.sql("select * from cms_sketch").collect()
    }
    ev = load_table(spark, SF, "events")
    exp = {
        (r.d, r.bucket): r.cnt
        for r in sk.cms_build(ev, "user_id", width=32, depth=3, salt="scms").collect()
    }
    assert got == exp
    assert len(got) <= 3 * 32

    # probing the streamed sketch never underestimates a true count
    sketch_df = spark.sql("select * from cms_sketch")
    truth = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    est = {
        r.user_id: r.cms_est
        for r in sk.cms_estimate(
            sketch_df, ev.select("user_id").distinct(), "user_id", width=32, depth=3, salt="scms"
        ).collect()
    }
    assert all(est[u] >= n for u, n in truth.items())


def test_streaming_hll_matches_batch(spark, stream_in, tmp_path):
    """Streamed HyperLogLog register table == batch hll_build on the same
    rows: MAX is commutative AND idempotent, so micro-batching (even
    replays) must not change a single register; state stays at
    groups × 2^p rows throughout. Estimates derived from equal registers
    are equal by construction — pinned anyway as the user-facing value."""
    from xeloader_spark.operators import sketch as sk
    from xeloader_spark.streaming import sketch_stream as ss

    ckpt = str(tmp_path / "hll_ckpt")
    stream = st.read_event_stream(spark, stream_in, max_files_per_trigger=1)
    q = ss.start_hll(
        stream, ckpt, "user_id", ["event_type"], p=6, salt="shll"
    )
    q.awaitTermination(120)

    got = {
        (r.event_type, r.idx): r.rho
        for r in spark.sql("select * from hll_sketch").collect()
    }
    ev = load_table(spark, SF, "events")
    exp = {
        (r.event_type, r.idx): r.rho
        for r in sk.hll_build(ev, "user_id", ["event_type"], p=6, salt="shll").collect()
    }
    assert got == exp
    n_types = ev.select("event_type").distinct().count()
    assert len(got) <= n_types * 64

    est_s = {
        r.event_type: (r.zsum, r.hll_est)
        for r in sk.hll_estimate(spark.sql("select * from hll_sketch"), p=6).collect()
    }
    est_b = {
        r.event_type: (r.zsum, r.hll_est)
        for r in sk.hll_estimate(
            sk.hll_build(ev, "user_id", ["event_type"], p=6, salt="shll"), p=6
        ).collect()
    }
    assert est_s == est_b


def test_streaming_upsert_latest_matches_batch(spark, stream_in, tmp_path):
    """Last emission per key from the streaming latest-per-key state ==
    the batch max-of-struct upsert — micro-batch boundaries cannot change
    a commutative max fold."""
    from xeloader_spark.queries.temporal import q_upsert_latest
    from xeloader_spark.streaming.upsert_stream import streaming_upsert_latest

    out = str(tmp_path / "ups_out")
    ckpt = str(tmp_path / "ups_ckpt")
    ev = load_table(spark, SF, "events")
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(stream_in)
    q = (
        streaming_upsert_latest(
            stream.select("user_id", "ts", "event_id", "event_type", "value")
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out)
    # the champion per key is the LAST emission: max (ts, event_id) again
    final = {
        r.user_id: (r.ts, r.event_id, r.event_type, r.value)
        for r in emitted.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("m"))
        .select("user_id", "m.*")
        .collect()
    }
    batch = {
        r.user_id: (r.ts, r.event_id, r.event_type, r.value)
        for r in q_upsert_latest(spark, SF).collect()
    }
    assert final == batch


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Streamed lineage-digest dedup == the batch `incremental_dedup`
    applied load-by-load: batch-1 emissions match a run against an empty
    snapshot; batch-2 emissions match a run against the digests batch 1
    kept. State per distinct digest is one row (the keeper id)."""
    import time

    from xeloader_spark.operators.dedup import incremental_dedup
    from xeloader_spark.streaming.dedup_stream import (
        streaming_incremental_dedup,
    )

    src = str(tmp_path / "incdedup_in")
    out = str(tmp_path / "incdedup_out")
    ckpt = str(tmp_path / "incdedup_ckpt")

    # distinct-text base rows so the seeded duplicates are the ONLY dups
    base = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .dropDuplicates(["text"])
        .orderBy("doc_id")
        .limit(370)
        .collect()
    )
    b1 = [(int(r.doc_id), r.text) for r in base[:200]]
    # in-batch dup inside load 1: two fresh ids share base[360]'s text
    b1 += [(40000, base[360].text), (40001, base[360].text)]
    b2 = [(int(r.doc_id), r.text) for r in base[200:350]]
    # cross-load dups: 50 texts already kept by load 1
    b2 += [(10000 + i, base[i].text) for i in range(50)]
    # in-batch dup inside load 2: two fresh ids share base[361]'s text
    b2 += [(30000, base[361].text), (30001, base[361].text)]

    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, text string"
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)  # distinct mod times → deterministic arrival order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_incremental_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.status, r.keeper_doc_id)
        for r in spark.read.parquet(out).collect()
    }

    b1df = spark.createDataFrame(b1, schema)
    b2df = spark.createDataFrame(b2, schema)
    empty_snap = spark.createDataFrame([], "digest string")
    exp1 = incremental_dedup(b1df, empty_snap)
    snap_after_1 = exp1.filter(F.col("status") == "keep").select("digest")
    exp2 = incremental_dedup(b2df, snap_after_1)
    expected = {
        r.doc_id: r.status
        for r in exp1.unionByName(exp2).collect()
    }

    assert len(got) == len(b1) + len(b2)
    assert {k: v[0] for k, v in got.items()} == expected
    # keeper ids: every duplicate points at the minimal id that kept the
    # content (cross-batch keepers come from load 1)
    for i in range(50):
        assert got[10000 + i] == ("dup_in_snapshot", b1[i][0])
    assert got[40001] == ("dup_in_batch", 40000)
    assert got[30001] == ("dup_in_batch", 30000)


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Latest per-user emission of the streaming funnel == the batch
    funnel, when files arrive in event-time order (the log-shipping
    contract the operator documents)."""
    import time

    from xeloader_spark.operators.temporal import funnel
    from xeloader_spark.streaming.funnel_stream import streaming_funnel

    src = str(tmp_path / "fun_in")
    out = str(tmp_path / "fun_out")
    ckpt = str(tmp_path / "fun_ckpt")
    ev = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # three contiguous time slices, written oldest-first so the file
    # stream (mod-time order) replays event time forward
    ts_sorted = ev.orderBy("ts", "event_id").collect()
    n = len(ts_sorted)
    os.makedirs(src, exist_ok=True)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        spark.createDataFrame(
            ts_sorted[lo : lo + (n + 2) // 3], ev.schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/slice={i}")
        time.sleep(1.1)  # distinct mod times → deterministic arrival order

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src + "/slice=*")
    q = (
        streaming_funnel(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out)
    # the newest emission per user = the one with the most steps filled
    # (emissions only ever fill steps forward)
    final = {}
    for r in emitted.collect():
        cur = final.get(r.user_id)
        filled = sum(x is not None for x in (r.t_1, r.t_2, r.t_3))
        if cur is None or filled > sum(x is not None for x in cur):
            final[r.user_id] = (r.t_1, r.t_2, r.t_3)
    batch = {
        r.user: (r.t_1, r.t_2, r.t_3)
        for r in funnel(ev, steps=("view", "click", "purchase")).collect()
    }
    # streaming emits only users that reached step 1; batch lists all
    batch_reached = {u: v for u, v in batch.items() if v[0] is not None}
    assert final == batch_reached


def test_streaming_boilerplate_matches_batch(spark, tmp_path):
    """Last emission per prefix digest from the streaming df counter ==
    the batch `boilerplate_prefix` document frequency, however the
    corpus is sliced into micro-batches (counting is additive)."""
    import time

    from xeloader_spark.operators.text import boilerplate_prefix
    from xeloader_spark.queries.text import _seed_boilerplate
    from xeloader_spark.streaming.boilerplate_stream import (
        streaming_boilerplate_counts,
    )

    src = str(tmp_path / "boiler_in")
    out = str(tmp_path / "boiler_out")
    ckpt = str(tmp_path / "boiler_ckpt")

    docs = _seed_boilerplate(
        load_table(spark, SF, "documents").select("doc_id", "text")
    )
    os.makedirs(src, exist_ok=True)
    for i, pred in enumerate(
        (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1)
    ):
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/slice={i}"
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_boilerplate_counts(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out).collect()
    final = {}
    batch_sum = {}
    for r in emitted:
        final[r.prefix_digest] = max(
            final.get(r.prefix_digest, 0), r.df_total
        )
        batch_sum[r.prefix_digest] = (
            batch_sum.get(r.prefix_digest, 0) + r.n_in_batch
        )

    expected = {
        r.prefix_digest: r.prefix_df
        for r in boilerplate_prefix(docs).select(
            "prefix_digest", "prefix_df"
        ).distinct().collect()
    }
    assert final == expected
    # per-batch contributions also reconstruct the totals
    assert batch_sum == expected
    # the 2 seeded header digests must be flagged hot (the fixture also
    # contains natural exact-duplicate texts, so other hot digests are
    # legitimate), and they cover all doc_id % 5 == 2 documents
    hot = {d for d, n in final.items() if n >= 3}
    seeded = docs.filter(F.col("doc_id") % 5 == 2)
    seeded_digests = {
        r.prefix_digest
        for r in boilerplate_prefix(seeded)
        .select("prefix_digest")
        .distinct()
        .collect()
    }
    assert len(seeded_digests) == 2
    assert seeded_digests <= hot
    assert sum(final[d] for d in seeded_digests) == seeded.count()


def test_streaming_retention_matches_batch(spark, tmp_path):
    """Aggregated emissions of the streaming retention operator == the
    batch `retention_cohorts` matrix under time-ordered arrival (every
    (user, day) emitted exactly once, cohort fixed at first sighting)."""
    import time

    from xeloader_spark.operators.temporal import retention_cohorts
    from xeloader_spark.streaming.retention_stream import (
        streaming_retention,
    )

    src = str(tmp_path / "ret_in")
    out = str(tmp_path / "ret_out")
    ckpt = str(tmp_path / "ret_ckpt")

    ev = load_table(spark, SF, "events").select("user_id", "ts")
    cut = ev.agg(F.min("ts")).first()[0] + __import__(
        "datetime"
    ).timedelta(days=15)
    os.makedirs(src, exist_ok=True)
    for i, pred in enumerate((F.col("ts") < cut, F.col("ts") >= cut)):
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/slice={i}"
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_retention(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.cohort_day, r.age_days): r.n_users
        for r in spark.read.parquet(out)
        .groupBy("cohort_day", "age_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .collect()
    }
    expected = {
        (r.cohort_day, r.age_days): r.n_users
        for r in retention_cohorts(ev).collect()
    }
    assert got == expected


def test_streaming_sql_batch_sink_exactly_once(spark, tmp_path):
    """Streaming bulk-load into live DuckDB (the reference's job shape,
    streamed): schema evolution EXECUTES mid-stream (target pre-created
    with a legacy column and missing frame columns), every micro-batch
    lands once, and a full redelivery (fresh checkpoint, same files) is
    absorbed by the batch_id load log — at-least-once in, exactly-once
    effects out."""
    import time

    import duckdb

    from xeloader_spark.streaming.sql_batch_sink import (
        make_duckdb_batch_loader,
    )

    src = str(tmp_path / "sqlsink_in")
    db = str(tmp_path / "sink.duckdb")

    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    os.makedirs(src, exist_ok=True)
    for i, pred in enumerate(
        (F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1)
    ):
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/slice={i}"
        )
        time.sleep(1.1)

    con = duckdb.connect(db)
    con.execute("CREATE SCHEMA xel")
    con.execute(
        "CREATE TABLE xel.events "
        "(event_id BIGINT, user_id BIGINT, legacy_note VARCHAR)"
    )
    con.close()

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/slice=*")
        )
        q = (
            stream.writeStream.foreachBatch(
                make_duckdb_batch_loader(db, "xel", "events")
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ckpt1")
    con = duckdb.connect(db)
    n = con.execute("SELECT COUNT(*) FROM xel.events").fetchone()[0]
    assert n == ev.count()
    cols = {
        r[0]
        for r in con.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_schema='xel' AND table_name='events'"
        ).fetchall()
    }
    # evolution executed: frame columns added, legacy column preserved
    assert {"event_type", "value", "legacy_note"} <= cols
    log1 = con.execute(
        "SELECT batch_id, n_rows FROM xel._load_log ORDER BY batch_id"
    ).fetchall()
    assert len(log1) == 2 and sum(r[1] for r in log1) == n
    con.close()

    # full redelivery with a FRESH checkpoint: same files, same batch ids
    # → the load log must absorb every batch
    run("ckpt2")
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM xel.events").fetchone()[0] == n
    assert (
        con.execute("SELECT COUNT(*) FROM xel._load_log").fetchone()[0] == 2
    )
    con.close()


def test_streaming_scd2_matches_batch_closed_versions(spark, tmp_path):
    """Streamed SCD2 == the batch operator restricted to CLOSED versions
    (effective_to IS NOT NULL), including version numbers and run
    lengths, under time-ordered file arrival. The open run per key stays
    in state — the batch analogue of the effective_to-NULL row."""
    import time

    from xeloader_spark.operators.temporal import scd2_history
    from xeloader_spark.streaming.scd2_stream import streaming_scd2_history

    src = str(tmp_path / "scd2_in")
    out = str(tmp_path / "scd2_out")
    ckpt = str(tmp_path / "scd2_ckpt")

    events = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id") < 40)
        .select("event_id", "ts", "user_id", "event_type")
        .localCheckpoint()
    )
    cut = events.selectExpr(
        "percentile_approx(cast(ts as double), 0.5) as c"
    ).collect()[0].c
    slices = (
        events.filter(F.col("ts").cast("double") <= cut),
        events.filter(F.col("ts").cast("double") > cut),
    )
    os.makedirs(src, exist_ok=True)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.mode("overwrite").parquet(f"{src}/slice={i}")
        time.sleep(1.1)  # distinct mod times → deterministic arrival order

    stream = (
        spark.readStream.schema(slices[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_scd2_history(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.version): (
            r.event_type, r.effective_from, r.effective_to, r.n_events
        )
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.user_id, r.version): (
            r.event_type, r.effective_from, r.effective_to, r.n_events
        )
        for r in scd2_history(events).collect()
        if r.effective_to is not None
    }
    assert got == want
    assert len(want) > 50  # the fixture actually exercises run closure


def test_streaming_histogram_matches_batch(spark, stream_in, tmp_path):
    """Streamed histogram sketch == batch hist_build on the same rows;
    quantile estimates derived from the streamed table equal the batch
    ones (the estimator is a pure function of the sketch)."""
    from xeloader_spark.operators import sketch as sk
    from xeloader_spark.streaming import sketch_stream as ss

    ckpt = str(tmp_path / "hist_ckpt")
    stream = st.read_event_stream(spark, stream_in, max_files_per_trigger=1)
    q = ss.start_hist(
        stream, ckpt, "value", 0.0, 328.0, 32, ["event_type"]
    )
    q.awaitTermination(120)

    got = {
        (r.event_type, r.bucket): r.cnt
        for r in spark.sql("select * from hist_sketch").collect()
    }
    ev = load_table(spark, SF, "events")
    exp = {
        (r.event_type, r.bucket): r.cnt
        for r in sk.hist_build(ev, "value", 0.0, 328.0, 32, ["event_type"]).collect()
    }
    assert got == exp

    est_s = {
        (r.event_type, r.percentile): r.estimate
        for r in sk.hist_quantiles(
            spark.sql("select * from hist_sketch"), [50, 90], 0.0, 328.0, 32
        ).collect()
    }
    est_b = {
        (r.event_type, r.percentile): r.estimate
        for r in sk.hist_quantiles(
            sk.hist_build(ev, "value", 0.0, 328.0, 32, ["event_type"]),
            [50, 90], 0.0, 328.0, 32,
        ).collect()
    }
    assert est_s == est_b


def test_streaming_cdc_matches_batch(spark, stream_in, tmp_path):
    """Last emission per key from the streaming CDC merge (tombstones
    included) == the batch cdc_apply on the same change log: the
    latest-op fold is a commutative max and the audit counters are sums,
    so micro-batching cannot change the final table."""
    from xeloader_spark.operators.temporal import cdc_apply
    from xeloader_spark.streaming.cdc_stream import streaming_cdc_apply

    out = str(tmp_path / "cdc_out")
    ckpt = str(tmp_path / "cdc_ckpt")
    ev = load_table(spark, SF, "events")

    def to_ops(df):
        return df.select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            # null change payloads included: the stream state must keep
            # them NULL like batch cdc_apply (pandas hands them over as
            # NaN; `is None` checks silently store NaN)
            F.when(
                F.col("event_type") == "view", F.lit(None).cast("double")
            )
            .otherwise(F.col("value"))
            .alias("value"),
        )

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(stream_in)
    q = (
        streaming_cdc_apply(to_ops(stream))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out)
    # last emission per key = max n_ops (the counter is strictly increasing)
    last = (
        emitted.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "n_ops", "ts", "event_id", "last_op", "value",
                    "n_inserts", "n_updates", "n_deletes", "is_deleted",
                )
            ).alias("m")
        )
        .select("user_id", "m.*")
    )
    stream_live = {
        r.user_id: (r.ts, r.event_id, r.last_op, r.value,
                    r.n_ops, r.n_inserts, r.n_updates, r.n_deletes)
        for r in last.filter(~F.col("is_deleted")).collect()
    }
    batch = {
        r.user_id: (r.ts, r.event_id, r.last_op, r.value,
                    r.n_ops, r.n_inserts, r.n_updates, r.n_deletes)
        for r in cdc_apply(
            to_ops(ev), ["user_id"], ["ts", "event_id"], "op", ["value"]
        ).collect()
    }
    assert stream_live == batch

    # tombstoned keys are exactly the input keys missing from the batch
    # live set (deleted-wins), and every input key got some emission
    all_keys = {r.user_id for r in ev.select("user_id").distinct().collect()}
    emitted_keys = {r.user_id for r in last.collect()}
    assert emitted_keys == all_keys
    dead = {r.user_id for r in last.filter(F.col("is_deleted")).collect()}
    assert dead == all_keys - set(batch)


def test_streaming_markov_counts_match_batch(spark, tmp_path):
    """Cross-batch transition stitching: events split into three
    time-range files streamed one per micro-batch must yield EXACTLY the
    batch lag-window transition counts — the boundary-spanning pair per
    user per batch is the whole point of the per-key stitch state."""
    import time as _time

    from xeloader_spark.operators.temporal import markov_transitions
    from xeloader_spark.streaming import markov_stream as ms

    src = str(tmp_path / "markov_in")
    ckpt = str(tmp_path / "markov_ckpt")
    ev = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    cuts = [lo + span, lo + 2 * span]
    ranges = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for part in ranges:  # modification-time order == event-time order
        # rows WITHIN a file are scrambled (event_type order, not ts
        # order): the stitcher must sort the whole micro-batch group,
        # not trust or impose per-chunk order
        part.orderBy("event_type", "event_id").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    # tiny Arrow chunks force every user's micro-batch rows to span
    # MULTIPLE pandas chunks — the cross-chunk ordering case that
    # per-chunk sorting gets silently wrong
    prev_arrow = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        q = ms.start_transition_counts(stream, ckpt)
        q.awaitTermination(180)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev_arrow
        )

    got = {
        (r.prev_state, r.next_state): r.n_transitions
        for r in spark.sql("select * from markov_counts").collect()
    }
    exp = {
        (r.prev_state, r.next_state): r.n_transitions
        for r in markov_transitions(ev).collect()
    }
    assert got == exp
    assert sum(got.values()) == ev.count() - ev.select("user_id").distinct().count()


def test_streaming_cdc_restart_recovers_state(spark, tmp_path):
    """Stateful-operator checkpoint recovery: drain a first batch of
    change files, STOP, add more files, restart with the same
    checkpoint — the per-key state must carry across the restart (the
    audit counters prove it: they count ops from BOTH runs), and the
    final table equals the batch cdc_apply over everything."""
    import time as _time

    from xeloader_spark.operators.temporal import cdc_apply
    from xeloader_spark.streaming.cdc_stream import streaming_cdc_apply

    src = str(tmp_path / "cdc_src")
    out = str(tmp_path / "cdc_out")
    ckpt = str(tmp_path / "cdc_ckpt")
    ev = load_table(spark, SF, "events")
    ops = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
    )
    first = ops.filter(F.col("event_id") % 2 == 0)
    second = ops.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src)

    def run_drain():
        stream = spark.readStream.schema(ops.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            streaming_cdc_apply(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_drain()
    _time.sleep(1.1)
    second.coalesce(1).write.mode("append").parquet(src)
    run_drain()  # restart: same checkpoint, state must resume

    emitted = spark.read.parquet(out)
    last = (
        emitted.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "n_ops", "ts", "event_id", "last_op", "value",
                    "n_inserts", "n_updates", "n_deletes", "is_deleted",
                )
            ).alias("m")
        )
        .select("user_id", "m.*")
    )
    stream_live = {
        r.user_id: (r.ts, r.event_id, r.last_op, r.value,
                    r.n_ops, r.n_inserts, r.n_updates, r.n_deletes)
        for r in last.filter(~F.col("is_deleted")).collect()
    }
    batch = {
        r.user_id: (r.ts, r.event_id, r.last_op, r.value,
                    r.n_ops, r.n_inserts, r.n_updates, r.n_deletes)
        for r in cdc_apply(
            ops, ["user_id"], ["ts", "event_id"], "op", ["value"]
        ).collect()
    }
    assert stream_live == batch  # n_ops spans both runs ⇒ state recovered


def test_streaming_hopping_agg_matches_batch(spark, stream_in, tmp_path):
    """Hopping-window streaming aggregate == the batch two-window
    assignment on the emitted (watermark-closed) subset — overlap
    windows are ordinary grouped state, so micro-batching cannot change
    a cell."""
    from xeloader_spark.queries.temporal import q_hopping_window_agg

    ckpt = str(tmp_path / "hop_ckpt")
    stream = st.read_event_stream(spark, stream_in)
    q = st.start_hopping_agg(stream, ckpt)
    q.awaitTermination(120)

    emitted = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from hopping_agg").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in q_hopping_window_agg(spark, SF).collect()
    }
    assert len(emitted) > 0.5 * len(expected)
    for k, v in emitted.items():
        assert expected[k] == v, k


def test_streaming_windowed_hll_matches_batch(spark, tmp_path):
    """Windowed HLL registers (sketch × event-time window): every
    emitted (window, idx, rho) cell equals the batch per-hour register
    build on the same rows. Input files are time-range ordered (the
    log-shipping shape) so the 10-minute watermark never legitimately
    drops rows — any cell difference is then a real state bug."""
    import time as _time

    from xeloader_spark.operators import sketch as sk
    from xeloader_spark.streaming import sketch_stream as ss

    src = str(tmp_path / "whll_in")
    ckpt = str(tmp_path / "whll_ckpt")
    ev0 = load_table(spark, SF, "events")
    lo, hi = ev0.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    cuts = [lo + span, lo + 2 * span]
    for part in (
        ev0.filter(F.col("ts") < cuts[0]),
        ev0.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev0.filter(F.col("ts") >= cuts[1]),
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = spark.readStream.schema(ev0.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = ss.start_windowed_hll(stream, ckpt, "user_id")
    q.awaitTermination(120)

    got = {
        (r.window_start, r.idx): r.rho
        for r in spark.sql("select * from windowed_hll").collect()
    }
    ev = load_table(spark, SF, "events").withColumn(
        "window_start", F.date_trunc("hour", F.col("ts"))
    )
    exp_regs = sk.hll_build(
        ev, "user_id", ["window_start"], p=6, salt="whll"
    )
    exp = {(r.window_start, r.idx): r.rho for r in exp_regs.collect()}
    # append-mode emits watermark-closed windows; compare the emitted set
    emitted_windows = {w for w, _ in got}
    assert len(emitted_windows) > 0.5 * len({w for w, _ in exp})
    for k, v in got.items():
        assert exp[k] == v, k
    # state bound: at most 2^p registers per emitted window
    from collections import Counter

    per_w = Counter(w for w, _ in got)
    assert all(c <= 64 for c in per_w.values())


def test_streaming_minhash_neardup_matches_batch(spark, tmp_path):
    """Streamed band-bucket MinHash near-dup == the batch
    `minhash_incremental`: the snapshot docs arrive as micro-batch 1
    (loading the band-bucket state), the new batch as micro-batch 2;
    batch-2 emissions, deduped over band collisions, must equal the
    batch operator screening the same new docs against the snapshot's
    retained signature table."""
    import time

    from xeloader_spark.operators import dedup as dd
    from xeloader_spark.operators import minhash
    from xeloader_spark.operators import sampling as sp
    from xeloader_spark.streaming.minhash_stream import (
        streaming_minhash_neardup,
    )

    src = str(tmp_path / "mh_in")
    out = str(tmp_path / "mh_out")
    ckpt = str(tmp_path / "mh_ckpt")

    docs = load_table(spark, SF, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("shared passage "), F.expr("CAST(doc_id DIV 8 AS STRING)")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    in_snap = sp.hash_bucket("doc_id", salt="mh-stream") < 7000
    snap_df = seeded.filter(in_snap)
    new_df = seeded.filter(~in_snap)
    new_ids = {r.doc_id for r in new_df.select("doc_id").collect()}

    os.makedirs(src, exist_ok=True)
    for i, part in enumerate((snap_df, new_df)):
        part.coalesce(1).write.mode("overwrite").parquet(f"{src}/slice={i}")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_minhash_neardup(stream, min_agree=6)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.read.parquet(out)
    got = {
        (r.new_id, r.match_id, r.in_snapshot, r.n_agree)
        for r in emitted.collect()
        if r.new_id in new_ids
    }
    snap_sigs = minhash.signatures(dd.shingles(snap_df, n=3), k=12)
    exp = {
        (r.new_id, r.match_id, r.in_snapshot, r.n_agree)
        for r in dd.minhash_incremental(
            new_df, snap_sigs, min_agree=6
        ).collect()
    }
    assert len(exp) > 0, "fixture produced no cross/within matches"
    assert got == exp


def test_streaming_ewma_closed_buckets_match_batch(spark, tmp_path):
    """Streaming EWMA emissions == the batch q_ewma_smooth rows for every
    CLOSED bucket (all but each user's last hour bucket) under
    time-ordered arrival — bit-exact num/den/ewma."""
    import time

    from xeloader_spark.queries.temporal import q_ewma_smooth
    from xeloader_spark.streaming.ewma_stream import streaming_ewma

    src = str(tmp_path / "ewma_in")
    out = str(tmp_path / "ewma_out")
    ckpt = str(tmp_path / "ewma_ckpt")

    ev = load_table(spark, SF, "events").select("user_id", "ts")
    cut = ev.agg(F.min("ts")).first()[0] + __import__(
        "datetime"
    ).timedelta(days=15)
    os.makedirs(src, exist_ok=True)
    for i, pred in enumerate((F.col("ts") < cut, F.col("ts") >= cut)):
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/slice={i}"
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_ewma(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.hour_idx): (r.n_events, r.num, r.den, r.ewma)
        for r in spark.read.parquet(out).collect()
    }
    batch = q_ewma_smooth(spark, SF).collect()
    last = {}
    for r in batch:
        last[r.user_id] = max(last.get(r.user_id, -1), r.hour_idx)
    expected = {
        (r.user_id, r.hour_idx): (r.n_events, r.num, r.den, r.ewma)
        for r in batch
        if r.hour_idx != last[r.user_id]
    }
    assert got == expected
    assert len(got) > 100  # the fixture produces a real emission volume


def test_streaming_ewma_late_hours_merge_or_drop(spark, tmp_path):
    """Late-data policy: an hour arriving BELOW a user's open bucket is
    merged into the matching retained bucket (future closings smooth
    over the corrected count; the already-emitted row stands) or counted
    as dropped when no retained bucket matches — and the state's hours
    array never goes non-monotonic (which would corrupt gap weights)."""
    import datetime as dt
    import time

    from xeloader_spark.streaming.ewma_stream import streaming_ewma

    src = str(tmp_path / "late_in")
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    os.makedirs(src, exist_ok=True)

    def hour(h):
        return dt.datetime(1970, 1, 1) + dt.timedelta(hours=h)

    slice0 = [  # time-ordered warm-up
        (1, hour(0)), (1, hour(0)), (1, hour(1)), (1, hour(2)),
        (2, hour(0)), (2, hour(20)),
    ]
    slice1 = [  # late arrivals + one advancing hour
        (1, hour(1)), (1, hour(1)), (1, hour(1)),  # late, retained → merge
        (1, hour(3)),                              # closes bucket h=2
        (2, hour(5)), (2, hour(5)),                # late, unretained → drop
    ]
    for i, rows in enumerate((slice0, slice1)):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp_ntz"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/slice={i}")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_ewma(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.hour_idx): (r.n_events, r.num, r.den, r.ewma)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, 0): (2, 2 * 128, 128, 2.0),
        # emitted BEFORE the late merge: count still 1
        (1, 1): (1, 2 * 64 + 1 * 128, 192, 256 / 192),
        # closed AFTER the late merge: bucket h=1 contributes 4 events
        (1, 2): (1, 2 * 32 + 4 * 64 + 1 * 128, 224, 448 / 224),
        (2, 0): (1, 128, 128, 1.0),
        # user 2's late h=5 rows are dropped (no retained bucket), so no
        # spurious emission and h=20 stays the open tail
    }


def test_streaming_snm_matches_batch_same_key_pairs(spark, tmp_path):
    """Streamed per-key sorted-neighborhood == the batch operator's
    SAME-KEY pairs under ascending-id arrival: a key's arrival order is
    its batch sort order (rank sorts by (key, id)), so (id_a, id_b,
    rank_gap, n_common, jaccard) must all match bit-for-bit. Cross-key
    window pairs are the documented streaming recall trade."""
    import time

    from xeloader_spark.operators import dedup as dd
    from xeloader_spark.streaming.snm_stream import (
        KEY_TOKENS,
        WINDOW,
        streaming_snm_neardup,
    )

    src = str(tmp_path / "snm_in")
    out = str(tmp_path / "snm_out")
    ckpt = str(tmp_path / "snm_ckpt")

    docs = load_table(spark, SF, "documents")
    # seed a hot blocking key so same-key near-dups exist at gaps both
    # inside and beyond the window
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                F.lit("shared passage block repeated content "),
                F.expr("CAST(doc_id DIV 16 AS STRING)"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    median = seeded.approxQuantile("doc_id", [0.5], 0.0)[0]
    os.makedirs(src, exist_ok=True)
    for i, pred in enumerate(
        (F.col("doc_id") <= median, F.col("doc_id") > median)
    ):
        seeded.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/slice={i}"
        )
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        streaming_snm_neardup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.id_a, r.id_b, r.rank_gap, r.n_common, r.jaccard)
        for r in spark.read.parquet(out).collect()
    }

    batch = dd.sorted_neighborhood_pairs(
        seeded, window=WINDOW, key_tokens=KEY_TOKENS, shingle_n=3,
        threshold_num=1, threshold_den=2,
    )
    toks = "filter(split(text, '\\\\s+'), x -> x != '')"
    keys = seeded.select(
        F.col("doc_id").alias("kid"),
        F.expr(
            f"lower(array_join(slice({toks}, 1, {KEY_TOKENS}), ' '))"
        ).alias("bk"),
    )
    ka = keys.select(F.col("kid").alias("id_a"), F.col("bk").alias("bk_a"))
    kb = keys.select(F.col("kid").alias("id_b"), F.col("bk").alias("bk_b"))
    expected = {
        (r.id_a, r.id_b, r.rank_gap, r.n_common, r.jaccard)
        for r in batch.join(ka, "id_a").join(kb, "id_b")
        .filter(F.col("bk_a") == F.col("bk_b"))
        .collect()
    }
    assert expected, "fixture produced no same-key SNM pairs"
    assert got == expected
    # the seeded hot key must also prove the window bound: some same-key
    # near-dup beyond the window exists and is (correctly) NOT emitted
    assert any(r.rank_gap <= WINDOW for r in spark.read.parquet(out).collect())
    dd.release_persisted()


def test_streaming_bloom_join_matches_batch(spark, tmp_path):
    """Stream-static Bloom-pruned join twin: the literal-bitset probe on
    the stream must lose nothing the plain stream-static join keeps —
    parity with the batch `bloom_prune_join` on the same cohort."""
    from xeloader_spark.operators import skew
    from xeloader_spark.streaming.bloom_join_stream import (
        bloom_pruned_stream_join,
    )

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    root = str(tmp_path / "li_in")
    li.repartition(3).write.mode("overwrite").parquet(root)
    orders = (
        load_table(spark, SF, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select("o_orderkey", "o_orderpriority")
    )

    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(root)
    )
    joined = bloom_pruned_stream_join(
        stream, orders, "l_orderkey", "o_orderkey"
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = skew.bloom_prune_join(li, orders, "l_orderkey", "o_orderkey")
    assert got.count() == batch.count()
    g = {
        (r.o_orderpriority): r.n
        for r in got.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    b = {
        (r.o_orderpriority): r.n
        for r in batch.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    assert g == b


def test_streaming_pair_counts_match_batch(spark, tmp_path):
    """Itemset streaming twin: running pair supports over basket-atomic
    micro-batches must converge to the batch a-priori operator's pair
    supports at min supports (1, 1). Update-mode memory sink emits a row
    per changed pair per batch; supports only grow, so the max per pair
    is the final value."""
    from xeloader_spark.operators.itemsets import frequent_pairs
    from xeloader_spark.streaming.itemset_stream import start_pair_counts

    li = load_table(spark, SF, "lineitem")
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )
    root = str(tmp_path / "baskets_in")
    baskets.repartition(3).write.mode("overwrite").parquet(root)

    stream = (
        spark.readStream.schema(baskets.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    q = start_pair_counts(stream, "pair_counts_t", str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {
        (r.item_a, r.item_b): r.pair_support
        for r in spark.sql(
            "SELECT item_a, item_b, MAX(pair_support) AS pair_support "
            "FROM pair_counts_t GROUP BY 1, 2"
        ).collect()
    }
    expect = {
        (r.item_a, r.item_b): r.pair_support
        for r in frequent_pairs(
            li, "l_orderkey", "l_partkey",
            min_item_support=1, min_pair_support=1,
        )
        .select("item_a", "item_b", "pair_support")
        .collect()
    }
    assert got == expect


def test_streaming_pair_counts_restart_recovers_state(spark, tmp_path):
    """Aggregate state survives a restart: process two basket files,
    stop, drop a third file, restart on the SAME checkpoint — supports
    must equal one batch pass over all three files (no double counting,
    no lost state)."""
    b1 = [(0, [1, 2, 3]), (1, [1, 2])]
    b2 = [(2, [1, 2, 4])]
    b3 = [(3, [1, 2]), (4, [2, 3])]
    schema = "basket long, items array<long>"
    root = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).write.mode("append").parquet(root)
    spark.createDataFrame(b2, schema).write.mode("append").parquet(root)

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # the memory sink cannot recover from a checkpoint, so the recovery
    # pin uses foreachBatch appending each update batch to parquet
    from xeloader_spark.streaming.itemset_stream import basket_pairs_counts

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )
        q = (
            basket_pairs_counts(stream)
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(b3, schema).write.mode("append").parquet(root)
    run()

    got = {
        (r.item_a, r.item_b): r.pair_support
        for r in spark.read.parquet(out)
        .groupBy("item_a", "item_b")
        .agg(F.max("pair_support").alias("pair_support"))
        .collect()
    }
    from itertools import combinations

    expect: dict[tuple[int, int], int] = {}
    for _, items in b1 + b2 + b3:
        for a, b in combinations(sorted(items), 2):
            expect[(a, b)] = expect.get((a, b), 0) + 1
    assert got == expect


def test_streaming_pair_counts_windowed_evicts_state(spark, tmp_path):
    """Bounded-state pin for the windowed itemset twin (r5 verdict #7):
    (1) per-(window, pair) supports match a batch replay of the same
    windows; (2) the watermark actually EVICTS closed windows — after a
    second run whose data advances the watermark past the first run's
    windows, the state-store row count must be at most the open windows'
    pairs, strictly below the all-windows pair count the running variant
    would hold."""
    from datetime import datetime
    from itertools import combinations

    from xeloader_spark.streaming.itemset_stream import (
        basket_pairs_counts_windowed,
    )

    def ts(h):
        return datetime(2024, 1, 1, h, 30, 0)

    # run 1: two one-hour windows; run 2: one window three hours later,
    # which advances the watermark (10 min delay) far past run 1's
    # windows and forces their state out of the store
    run1 = [(0, ts(0), [1, 2, 3]), (1, ts(0), [1, 2]), (2, ts(1), [1, 2, 4])]
    run2 = [(3, ts(4), [1, 2]), (4, ts(4), [2, 3])]
    schema = "basket long, ts timestamp, items array<long>"
    root = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.createDataFrame(run1, schema).write.mode("append").parquet(root)

    state_rows: list[int] = []

    def run():
        stream = spark.readStream.schema(schema).parquet(root)
        q = (
            basket_pairs_counts_windowed(
                stream, window_duration="1 hour", watermark_delay="10 minutes"
            )
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        ops = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        state_rows.append(ops[-1] if ops else -1)

    run()
    spark.createDataFrame(run2, schema).write.mode("append").parquet(root)
    run()

    # (1) value parity: max emitted support per (window, pair) == batch
    expect: dict[tuple[datetime, int, int], int] = {}
    for _, t, items in run1 + run2:
        wstart = t.replace(minute=0, second=0)
        for a, b in combinations(sorted(items), 2):
            expect[(wstart, a, b)] = expect.get((wstart, a, b), 0) + 1
    got = {
        (r.window_start, r.item_a, r.item_b): r.pair_support
        for r in spark.read.parquet(out)
        .groupBy("window_start", "item_a", "item_b")
        .agg(F.max("pair_support").alias("pair_support"))
        .collect()
    }
    assert got == expect

    # (2) measured state bound: run 1 held its two open windows' pairs;
    # run 2's watermark (03:50+) closed both, so the store must hold at
    # most run 2's single window (2 pairs) — strictly fewer rows than
    # the 7 distinct (window, pair) keys a running aggregate would keep
    all_keys = len(expect)
    assert state_rows[1] >= 0
    assert state_rows[1] < all_keys, (state_rows, all_keys)
    run2_pairs = len({k for k in expect if k[0] == ts(4).replace(minute=0)})
    assert state_rows[1] <= run2_pairs, (state_rows, run2_pairs)


def test_streaming_bm25_scores_match_batch(spark, tmp_path):
    """Stream-static BM25 twin: documents streamed through the frozen-
    stats scorer must produce BIT-EQUAL integer scores to the batch
    operator (same corpus frozen into the stats, batch top-k widened to
    the whole corpus) — the shared contribution templates make drift
    structurally impossible, this pins it. Also pins the stateless
    claim: zero stateOperators in the progress."""
    from xeloader_spark.operators.text import bm25_topk
    from xeloader_spark.streaming.bm25_stream import (
        bm25_frozen_stats,
        bm25_score_stream,
    )

    docs = load_table(spark, SF, "documents")
    terms = ("spark", "merge", "window")
    stats = bm25_frozen_stats(docs, terms)

    root = str(tmp_path / "docs_in")
    docs.select("doc_id", "text").repartition(3).write.mode(
        "overwrite"
    ).parquet(root)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    q = (
        bm25_score_stream(stream, stats, terms)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bm25_scores_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert all(
        not p.get("stateOperators") for p in q.recentProgress
    ), "stream-static scoring must carry no state operators"

    got = {
        r.doc_id: (r.dl, r.n_matched, r.score)
        for r in spark.sql(
            "SELECT * FROM bm25_scores_t WHERE score > 0"
        ).collect()
    }
    expect = {
        r.doc_id: (r.dl, r.n_matched, r.score)
        for r in bm25_topk(docs, terms, k=1_000_000).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_streaming_record_linkage_matches_batch(spark, tmp_path):
    """Stream-static record linkage: a stream of incoming (dirty)
    records blocked-joined and scored against the static clean side
    must produce exactly the batch operator's links — the linkage
    scoring is a stateless projection over a stream-static equi-join,
    so the new-records-arrive-continuously deployment needs no new
    operator. Zero state operators (no aggregate, no watermark)."""
    from xeloader_spark.operators.linkage import blocked_link

    cust = load_table(spark, SF, "customer")
    left = cust.select(
        F.col("c_custkey").alias("left_key"),
        F.col("c_nationkey").cast("long").alias("nk"),
        F.expr("right(c_name, 3)").alias("tail"),
        F.col("c_name").alias("l_name"),
    )
    right = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("right_key"),
        F.col("c_nationkey").cast("long").alias("nk"),
        F.expr("right(c_name, 3)").alias("tail"),
        # corrupt a third of the names so scores differ
        F.when(F.col("c_custkey") % 3 == 0, F.lower("c_name"))
        .otherwise(F.col("c_name"))
        .alias("r_name"),
    )
    agreements = [("l_name", "r_name", 5)]

    expect = {
        (r.left_key, r.right_key)
        for r in blocked_link(
            left, right, ["nk", "tail"], agreements, threshold=5
        ).collect()
    }

    root = str(tmp_path / "dirty_in")
    right.repartition(3).write.mode("overwrite").parquet(root)
    stream = (
        spark.readStream.schema(
            "right_key long, nk long, tail string, r_name string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    q = (
        blocked_link(left, stream, ["nk", "tail"], agreements, threshold=5)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("links_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert all(not p.get("stateOperators") for p in q.recentProgress)
    got = {
        (r.left_key, r.right_key)
        for r in spark.sql("SELECT left_key, right_key FROM links_t").collect()
    }
    assert got == expect
    assert len(got) > 0


def test_streaming_bm25_large_frozen_stats_no_overflow(spark):
    """Regression (r6 code review, repro-confirmed): frozen stats were
    rendered as bare int literals, so the folded idf product
    (2*(N-df)+1)*idf_scale was int32 and ANSI-crashed with
    ARITHMETIC_OVERFLOW for any corpus with N-df >= 1074. Stats from a
    realistic-size corpus (5000 docs) must score cleanly and match the
    Python integer formula."""
    from xeloader_spark.streaming.bm25_stream import bm25_score_stream

    stats = {"n_docs": 5_000, "tot_len": 250_000, "df": [5, 50, 500]}
    terms = ("alpha", "beta", "gamma")
    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma x y"), (2, "x y z"), (3, "alpha alpha")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bm25_score_stream(docs, stats, terms).collect()}
    assert rows[2].score == 0 and rows[2].n_matched == 0

    def py_score(tfs, dl):
        idf_scale, sat_scale, dl_scale = 1_000_000, 10_000, 1_000_000
        a, c, p, q = 6, 5, 3, 4
        n, tot = stats["n_docs"], stats["tot_len"]
        dlnorm = (dl * n * dl_scale) // tot
        total = 0
        for tf, df in zip(tfs, stats["df"]):
            if tf == 0:
                continue
            idf = ((2 * (n - df) + 1) * idf_scale) // (2 * df + 1)
            sat_num = tf * (a + c) * q * dl_scale * sat_scale
            sat_den = c * q * dl_scale * tf + a * (q - p) * dl_scale + a * p * dlnorm
            total += (idf * (sat_num // sat_den)) // sat_scale
        return total

    assert rows[1].score == py_score([1, 2, 1], 6)
    assert rows[3].score == py_score([2, 0, 0], 2)

    # empty-corpus stats must fail loudly at the stats source
    from xeloader_spark.streaming.bm25_stream import bm25_frozen_stats

    with pytest.raises(ValueError, match="empty corpus"):
        bm25_frozen_stats(docs.filter("doc_id < 0"), terms)


def test_streaming_quantile_normalize_error_envelope(spark, tmp_path):
    """Approximate streaming quantile normalization: (1) the drained
    calibration sketch equals the batch histogram over the same rows
    (counts commutative); (2) per-doc percentile error obeys the
    theorem envelope |pct̂ − pct| ≤ own-bucket mass in bp + 1; (3) the
    returned global bucket [lo, hi) CONTAINS the exact global order
    statistic at the target rank; (4) state is ≤ sources × bins rows."""
    from xeloader_spark.operators import sketch as sk
    from xeloader_spark.queries.sampling import quantile_normalize_docs
    from xeloader_spark.streaming import quantile_stream as qs

    BINS = 256
    src = str(tmp_path / "qn_in")
    ckpt = str(tmp_path / "qn_ckpt")

    docs = load_table(spark, SF, "documents")
    docs.select("doc_id", "source", "text").repartition(3).write.mode(
        "overwrite"
    ).parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = qs.start_quantile_hist(stream, ckpt, bins=BINS, table="qn_hist")
    q.awaitTermination(120)
    sketch = spark.sql("select * from qn_hist")

    # (1) exact sketch parity with the batch histogram + (4) bound
    scored = qs.scored_stream(docs)
    exp_hist = {
        (r.source, r.bucket): r.cnt
        for r in sk.hist_build(
            scored, "rp_ppm", float(qs.PPM_LO), float(qs.PPM_HI), BINS,
            ["source"],
        ).collect()
    }
    got_hist = {(r.source, r.bucket): r.cnt for r in sketch.collect()}
    assert got_hist == exp_hist
    n_sources = docs.select("source").distinct().count()
    assert len(got_hist) <= n_sources * BINS

    # (2)+(3): envelope vs the exact batch calibration
    approx = {
        r.doc_id: r
        for r in qs.normalize_from_hist(sketch, scored, bins=BINS).collect()
    }
    exact = {r.doc_id: r for r in quantile_normalize_docs(docs).collect()}
    assert set(approx) == set(exact)

    counts = {}  # (source, bucket) -> cnt
    n_src = {}
    for (s, b), c in got_hist.items():
        counts[(s, b)] = c
        n_src[s] = n_src.get(s, 0) + c
    width = qs.PPM_HI // BINS
    g_sorted = sorted(r.rp_ppm for r in scored.collect())
    n_total = len(g_sorted)

    for did, a in approx.items():
        e = exact[did]
        b = a.rp_ppm * BINS // qs.PPM_HI
        ns = n_src[a.source]
        mass_bp = (
            ((counts[(a.source, b)] - 1) * qs.QN_PCT) // (ns - 1) + 1
            if ns > 1
            else 0
        )
        assert abs(a.pctile_bp_approx - e.pctile) <= mass_bp, (
            did, a.pctile_bp_approx, e.pctile, mass_bp,
        )
        target = 1 + (a.pctile_bp_approx * (n_total - 1)) // qs.QN_PCT
        order_stat = g_sorted[target - 1]
        assert a.norm_lo_ppm <= order_stat < a.norm_hi_ppm, (
            did, a.norm_lo_ppm, order_stat, a.norm_hi_ppm,
        )
        assert a.norm_hi_ppm - a.norm_lo_ppm == width

    # a doc from a source the sketch has never seen must SURVIVE with
    # NULL calibration columns, not vanish (r7 review finding)
    alien = spark.createDataFrame(
        [(999_999, "never-seen-source", 123_456)],
        "doc_id long, source string, rp_ppm long",
    )
    out = qs.normalize_from_hist(sketch, alien, bins=BINS).collect()
    assert len(out) == 1
    assert out[0].doc_id == 999_999
    assert out[0].pctile_bp_approx is None and out[0].norm_bucket is None

    # an EMPTY sketch (stream not started yet) must likewise calibrate
    # every doc to NULL — not drop the whole batch: n_total comes from a
    # global aggregate (always 1 row, NULL on empty), never from a
    # window column of the zero-row CDF frame (r7 advice finding)
    empty_sketch = sketch.filter("1 = 0")
    out2 = qs.normalize_from_hist(empty_sketch, alien, bins=BINS).collect()
    assert len(out2) == 1
    assert out2[0].doc_id == 999_999
    assert out2[0].pctile_bp_approx is None and out2[0].norm_bucket is None


def test_streaming_warc_parse_matches_batch(spark, tmp_path):
    """The WARC record parser is stateless (select/filter/posexplode),
    so it runs unchanged on a blob STREAM — crawl archives arriving as
    files — and must emit exactly the batch parse of the same blobs."""
    from xeloader_spark.queries.ingest import q_warc_extract
    from xeloader_spark.sources.warc import parse_warc

    src = str(tmp_path / "warc_in")
    out = str(tmp_path / "warc_out")
    ckpt = str(tmp_path / "warc_ckpt")

    # materialize the synthesized blobs the batch query parses (the ONE
    # shared packing aggregate — r8 review dedup)
    from xeloader_spark.queries.ingest import pack_warc_blobs

    docs = load_table(spark, SF, "documents")
    blobs = pack_warc_blobs(docs)
    blobs.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("warc_file long, warc_blob string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        parse_warc(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r.warc_file, r.rec_seq): (
            r.warc_type, r.target_uri, r.record_id, r.content_length,
            r.http_status, r.len_ok, r.payload,
        )
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.warc_file, r.rec_seq): (
            r.warc_type, r.target_uri, r.record_id, r.content_length,
            r.http_status, r.len_ok, r.payload,
        )
        for r in parse_warc(blobs).collect()
    }
    assert streamed == batch and len(batch) > 0
    # sanity on the driver-row view too: statuses parsed, audits green
    qdf = q_warc_extract(spark, SF)
    stats = {r.http_status for r in qdf.select("http_status").distinct().collect()}
    assert stats == {200, 404}
    assert qdf.filter("NOT len_ok").count() == 0


def test_streaming_backoff_scores_match_batch(spark, tmp_path):
    """Stream-static stupid-backoff scoring: per-bigram scores of a
    held-out doc STREAM against batch-trained static stats, reduced
    per doc at the sink, must equal the batch operator's rows exactly
    (same md5 split, same CASE template). The streaming plan is
    stateless — explode + two stream-static joins, zero state."""
    from xeloader_spark.operators.sampling import hash_bucket
    from xeloader_spark.operators.text import bigram_stupid_backoff
    from xeloader_spark.streaming.lm_stream import (
        backoff_score_stream,
        train_backoff_stats,
    )

    src = str(tmp_path / "lm_in")
    out = str(tmp_path / "lm_out")
    ckpt = str(tmp_path / "lm_ckpt")

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    is_train = hash_bucket(F.col("doc_id"), "lmtrain", 10_000) < 5_000
    train = docs.filter(is_train)
    heldout = docs.filter(~is_train)

    train_bi, train_ug, n_train = train_backoff_stats(train)
    train_bi = train_bi.localCheckpoint(eager=True)
    train_ug = train_ug.localCheckpoint(eager=True)

    heldout.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        backoff_score_stream(stream, train_bi, train_ug, n_train)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    import pandas as pd

    emitted = spark.read.parquet(out).toPandas()
    got = (
        emitted.groupby("doc_id")
        .agg(
            n_bigrams=("score_scaled", "size"),
            n_backoff=("is_backoff", "sum"),
            sum_score_scaled=("score_scaled", "sum"),
        )
        .astype("int64")
        .to_dict("index")
    )
    batch = {
        r.doc_id: {
            "n_bigrams": r.n_bigrams,
            "n_backoff": r.n_backoff,
            "sum_score_scaled": r.sum_score_scaled,
        }
        for r in bigram_stupid_backoff(docs).collect()
        if r.n_bigrams > 0  # <2-token docs emit no bigram rows upstream
    }
    assert got == batch and len(batch) > 0


def test_streaming_crawl_pipeline_matches_batch(spark, tmp_path):
    """The crawl fetch-side composed as ONE stream: WARC blobs arrive
    as files → record parse → HTTP/len_ok gate → robots REP gate on
    the target URI — every stage stateless, so the stream emits
    exactly the batch composition of the same blobs, and the REP rules
    demonstrably drop records mid-stream."""
    from xeloader_spark.operators.robots import robots_filter
    from xeloader_spark.queries.ingest import _WARC_FILE_DOCS, _warc_seed_sqls
    from xeloader_spark.sources.warc import SPARK_DIALECT, parse_warc

    src = str(tmp_path / "crawl_in")
    out = str(tmp_path / "crawl_out")
    ckpt = str(tmp_path / "crawl_ckpt")

    rec, _ = _warc_seed_sqls(SPARK_DIALECT)
    docs = load_table(spark, SF, "documents")
    blobs = (
        docs.select(
            F.expr(f"doc_id DIV {_WARC_FILE_DOCS}").alias("warc_file"),
            F.struct("doc_id", F.expr(rec).alias("r")).alias("_sr"),
        )
        .groupBy("warc_file")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(_sr)), "
                "x -> x.r), '')"
            ).alias("warc_blob")
        )
    )
    blobs.repartition(3).write.mode("overwrite").parquet(src)

    # block one language path prefix on the synth host
    rules = [("example.org", "/de", False)]

    def pipeline(frame):
        parsed = parse_warc(frame).filter(
            (F.col("http_status") == 200) & F.col("len_ok")
        )
        return (
            robots_filter(parsed, rules, url_col="target_uri")
            .filter(F.col("allowed"))
            .select("target_uri", F.md5("payload").alias("payload_md5"))
        )

    stream = (
        spark.readStream.schema("warc_file long, warc_blob string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        pipeline(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r.target_uri, r.payload_md5)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.target_uri, r.payload_md5) for r in pipeline(blobs).collect()
    }
    assert streamed == batch and len(batch) > 0
    # the REP gate actually fired: /de URIs exist pre-gate, none after
    pre = parse_warc(blobs).filter("http_status = 200")
    assert pre.filter("target_uri LIKE 'https://example.org/de/%'").count() > 0
    assert not any(u.startswith("https://example.org/de/") for u, _ in batch)


def test_streaming_frontier_matches_batch(spark, tmp_path):
    """Streamed frontier admissions == the batch `q_crawl_frontier` rows
    (minus fetch_wave — the per-host rank window needs the host's total
    canonical order, batch-only by design): every robots-allowed
    canonical URL admitted exactly ONCE with the min-id keeper, across
    micro-batch boundaries, under ascending-id file arrival (the same
    parity contract as the incremental-dedup twin). State is one slim
    row per admitted canonical URL — pinned via the state-operator
    row count."""
    import time

    from xeloader_spark.queries.text import (
        _ROBOTS_RULES,
        _URL_SEED_SPARK,
        q_crawl_frontier,
    )
    from xeloader_spark.streaming.frontier_stream import frontier_stream

    src = str(tmp_path / "frontier_in")
    out = str(tmp_path / "frontier_out")
    ckpt = str(tmp_path / "frontier_ckpt")

    rows = [
        (int(r.doc_id), r.url)
        for r in load_table(spark, SF, "documents")
        .select("doc_id", F.expr(_URL_SEED_SPARK).alias("url"))
        .orderBy("doc_id")
        .collect()
    ]
    half = len(rows) // 2
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, url string"
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)  # distinct mod times → deterministic arrival order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        frontier_stream(stream, _ROBOTS_RULES)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.host, r.canonical_url, r.keeper_doc_id)
        for r in spark.read.parquet(out).collect()
    }
    exp = {
        (r.host, r.canonical_url, r.keeper_doc_id)
        for r in q_crawl_frontier(spark, SF).collect()
    }
    assert got == exp
    # exactly-once admission: emissions == distinct admitted URLs
    n_rows = spark.read.parquet(out).count()
    assert n_rows == len(exp)
    # bounded state: one state row per admitted canonical URL
    prog = q.lastProgress
    if prog and prog.get("stateOperators"):
        assert prog["stateOperators"][0]["numRowsTotal"] == len(exp)


def test_streaming_link_extract_matches_batch(spark, tmp_path):
    """Link extraction is stateless (regexp_extract_all + explode +
    string functions), so `extract_links` runs unchanged on a page
    STREAM — archived pages arriving as files → link rows — and its
    emissions equal the batch q_link_extract rows exactly."""
    from xeloader_spark.operators.links import extract_links
    from xeloader_spark.queries.text import _link_docs, q_link_extract

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "links_out")
    ckpt = str(tmp_path / "links_ckpt")

    _link_docs(spark, SF).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, src_host string, html string"
    ).parquet(src)
    q = (
        extract_links(stream)
        .select("doc_id", "src_host", "href", "dst_url", "dst_host")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    exp = sorted(map(tuple, q_link_extract(spark, SF).collect()))
    assert got == exp


def test_streaming_html_text_extract_matches_batch(spark, tmp_path):
    """HTML→text extraction is stateless (regexp/replace chain), so
    `html_to_text` runs unchanged on a page STREAM and emits exactly
    the batch q_html_text_extract rows."""
    from xeloader_spark.operators.links import html_to_text
    from xeloader_spark.queries.text import _link_docs, q_html_text_extract

    src = str(tmp_path / "htx_in")
    out = str(tmp_path / "htx_out")
    ckpt = str(tmp_path / "htx_ckpt")

    _link_docs(spark, SF).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, src_host string, html string"
    ).parquet(src)
    q = (
        html_to_text(stream)
        .select("doc_id", "text_out")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r.doc_id, r.text_out) for r in spark.read.parquet(out).collect()
    )
    exp = sorted(
        (r.doc_id, r.text_out)
        for r in q_html_text_extract(spark, SF).collect()
    )
    assert got == exp and len(got) > 0


def test_streaming_recrawl_delta_matches_batch(spark, tmp_path):
    """Streamed sitemap-refresh classification == batch `recrawl_delta`
    over the same entries: a two-batch replay of the q_recrawl_delta
    entry set (NULL lastmods included) through the stream-static left
    join yields row-for-row identical (url, status, needs_fetch) — the
    stateless twin's value-identity pin (VERDICT r11 #5)."""
    import time

    from xeloader_spark.operators.crawl import recrawl_delta
    from xeloader_spark.streaming.recrawl_stream import recrawl_delta_stream

    src = str(tmp_path / "rd_in")
    out = str(tmp_path / "rd_out")
    ckpt = str(tmp_path / "rd_ckpt")

    # the q_recrawl_delta fixture shape: per-(source, m) URLs, lastmod
    # on a different day cycle than the state's crawl dates, knocked
    # out entirely where m % 7 = 0 (the no-evidence branch)
    entries = (
        load_table(spark, SF, "documents")
        .selectExpr("source", "CAST((doc_id * 7) % 50 AS BIGINT) AS m")
        .distinct()
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING)) AS loc",
            "CASE WHEN m % 7 = 0 THEN NULL ELSE concat('2026-01-', "
            "lpad(CAST(1 + m % 28 AS STRING), 2, '0')) END AS lastmod",
            "m",
        )
    )
    state = (
        load_table(spark, SF, "documents")
        .selectExpr("source", "CAST(doc_id % 50 AS BIGINT) AS c_m")
        .distinct()
        .filter("c_m % 3 != 0")
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(c_m AS STRING)) AS url",
            "concat('2026-01-', lpad(CAST(1 + (c_m * 5) % 28 AS STRING), "
            "2, '0')) AS last_crawled",
        )
    )
    rows = [(r.loc, r.lastmod, int(r.m)) for r in entries.collect()]
    schema = "loc string, lastmod string, m long"
    os.makedirs(src, exist_ok=True)
    slices = ([r for r in rows if r[2] < 25], [r for r in rows if r[2] >= 25])
    for i, chunk in enumerate(slices):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        recrawl_delta_stream(stream.drop("m"), state)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.loc: (r.lastmod, r.last_crawled, r.status, r.needs_fetch)
        for r in spark.read.parquet(out).collect()
    }
    exp = {
        r.loc: (r.lastmod, r.last_crawled, r.status, r.needs_fetch)
        for r in recrawl_delta(entries.drop("m"), state).collect()
    }
    assert got == exp and len(got) == len(rows)
    # the fixture exercises all three verdicts
    assert {s for _, _, s, _ in got.values()} == {"new", "stale", "fresh"}


def test_streaming_backoff_matches_batch(spark, tmp_path):
    """Streamed per-host backoff state == batch `host_backoff` over the
    same fetch log: latest emission per host after a two-slice in-order
    replay carries the batch counters, the identical power-of-two
    factor, and the Retry-After running max."""
    import time

    from xeloader_spark.operators.crawl import host_backoff
    from xeloader_spark.queries.crawl import _BK_N, _backoff_log_sql
    from xeloader_spark.streaming.backoff_stream import backoff_stream

    src = str(tmp_path / "bk_in")
    out = str(tmp_path / "bk_out")
    ckpt = str(tmp_path / "bk_ckpt")

    log = (
        load_table(spark, SF, "documents")
        .selectExpr("source").distinct()
        .selectExpr(
            "lower(concat('www.', source, '.com')) AS host",
            "CAST(substr(source, 4) AS INT) AS s",
        )
        .select(
            "host", "s",
            F.explode(F.expr(f"sequence(0, {_BK_N - 1})")).alias("i"),
        )
        .selectExpr(
            "host",
            "CAST(i AS BIGINT) AS fetch_idx",
            f"CAST({_backoff_log_sql()} AS INT) AS status",
            "CASE WHEN s % 4 = 3 AND i = 20 THEN CAST(60 + s AS BIGINT) "
            "WHEN s % 4 = 1 AND i = 37 THEN CAST(90 + s AS BIGINT) "
            "END AS retry_after",
        )
    )
    rows = [
        (r.host, int(r.fetch_idx), int(r.status),
         int(r.retry_after) if r.retry_after is not None else None)
        for r in log.collect()
    ]
    schema = "host string, fetch_idx long, status int, retry_after long"
    os.makedirs(src, exist_ok=True)
    slices = (
        [r for r in rows if r[1] < _BK_N // 2],
        [r for r in rows if r[1] >= _BK_N // 2],
    )
    for i, chunk in enumerate(slices):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        backoff_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out).collect()
    latest = {}
    for r in emitted:
        if r.host not in latest or r.n_fetches > latest[r.host].n_fetches:
            latest[r.host] = r
    got = {
        h: (r.n_fetches, r.n_errors, r.trailing_failures,
            r.backoff_factor, r.retry_after_s)
        for h, r in latest.items()
    }
    exp = {
        r.host: (r.n_fetches, r.n_errors, r.trailing_failures,
                 r.backoff_factor, r.retry_after_s)
        for r in host_backoff(log, retry_after_col="retry_after").collect()
    }
    assert got == exp and len(got) > 0
    # two emissions per host (every host appears in both slices)
    assert len(emitted) == 2 * len(exp)


def test_streaming_revisit_matches_batch(spark, tmp_path):
    """Streamed change-rate state == batch `revisit_policy` over the
    same visit log: the latest emission per URL (max n_visits) after a
    two-slice in-order replay carries exactly the batch counters and
    the bit-identical clamped integer interval. State is the 3-field
    sufficient statistic, never the history."""
    import time

    from xeloader_spark.operators.crawl import revisit_policy
    from xeloader_spark.queries.crawl import _RV_BASE, _RV_MAX, _RV_MIN
    from xeloader_spark.streaming.revisit_stream import revisit_stream

    src = str(tmp_path / "rv_in")
    out = str(tmp_path / "rv_out")
    ckpt = str(tmp_path / "rv_ckpt")

    # the q_revisit_policy visit matrix: 2 + m%5 visits per url, fp
    # rolling over every 1 + m%4 visits
    visits = (
        load_table(spark, SF, "documents")
        .selectExpr("source", "CAST(doc_id % 50 AS BIGINT) AS m")
        .distinct()
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING)) AS url",
            "m",
        )
        .select(
            "url",
            "m",
            F.explode(
                F.expr("sequence(0, 1 + CAST(m % 5 AS INT))")
            ).alias("visit_idx"),
        )
        .selectExpr(
            "url",
            "CAST(visit_idx AS BIGINT) AS visit_idx",
            # every 7th URL's second visit has a NULL fingerprint (a
            # failed fetch that was still logged): batch three-valued
            # (fp != lag) never counts it as a change, and the twin
            # must match (ADVICE r11 #2 — str() coerced it to 'None')
            "CASE WHEN visit_idx = 1 AND m % 7 = 0 THEN NULL "
            "ELSE md5(concat(url, ':', CAST(visit_idx DIV (1 + m % 4) "
            "AS STRING))) END AS fp",
        )
    )
    rows = [
        (r.url, int(r.visit_idx), r.fp)
        for r in visits.orderBy("url", "visit_idx").collect()
    ]
    schema = "url string, visit_idx long, fp string"
    os.makedirs(src, exist_ok=True)
    # slice by visit_idx: every URL's later visits arrive in the later
    # file — the in-order cross-batch contract the twin documents
    slices = ([r for r in rows if r[1] < 2], [r for r in rows if r[1] >= 2])
    for i, chunk in enumerate(slices):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)  # distinct mod times → deterministic arrival

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        revisit_stream(
            stream, base_s=_RV_BASE, min_s=_RV_MIN, max_s=_RV_MAX
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out).collect()
    latest = {}
    for r in emitted:
        if r.url not in latest or r.n_visits > latest[r.url].n_visits:
            latest[r.url] = r
    got = {
        u: (r.n_visits, r.n_changes, r.revisit_interval_s)
        for u, r in latest.items()
    }
    exp = {
        r.url: (r.n_visits, r.n_changes, r.revisit_interval_s)
        for r in revisit_policy(
            visits, base_s=_RV_BASE, min_s=_RV_MIN, max_s=_RV_MAX
        ).collect()
    }
    assert got == exp
    # one emission per micro-batch that touched the URL: slice 0 holds
    # every URL's first 2 visits; slice 1 only URLs with ≥3 visits
    n_expected = sum(1 + (1 if nv > 2 else 0) for nv, _, _ in exp.values())
    assert len(emitted) == n_expected


def test_streaming_robots_cache_matches_batch(spark, tmp_path):
    """Streamed per-host robots-cache policy == batch
    `robots_cache_policy` over the same attempt log: the latest
    emission per host after a two-slice in-order replay carries the
    identical access class, freshness verdict, and clocks. The
    q_robots_cache fixture log cycles all four access classes and both
    freshness outcomes, and the mid-log slice boundary (j<2 / j≥2)
    makes several hosts' INTERIM class differ from their final one —
    the state fold, not the batch replay, is what's pinned."""
    import time

    from xeloader_spark.operators.crawl import robots_cache_policy
    from xeloader_spark.queries.crawl import (
        _RC_MAX_AGE,
        _RC_NOW,
        _robots_fetch_status_sql,
    )
    from xeloader_spark.streaming.robots_cache_stream import (
        robots_cache_stream,
    )

    src = str(tmp_path / "rc_in")
    out = str(tmp_path / "rc_out")
    ckpt = str(tmp_path / "rc_ckpt")

    log = (
        load_table(spark, SF, "documents")
        .selectExpr("source").distinct()
        .selectExpr(
            "lower(concat('www.', source, '.com')) AS host",
            "CAST(substr(source, 4) AS INT) AS s",
        )
        .select("host", "s", F.explode(F.expr("sequence(0, 3)")).alias("j"))
        .selectExpr(
            "host",
            "j",
            "CAST(1000 * s + 30000 * j + CASE WHEN s >= 10 THEN 30000 "
            "ELSE 0 END AS BIGINT) AS fetched_at_s",
            f"CAST({_robots_fetch_status_sql()} AS INT) AS status",
        )
    )
    rows = [
        (r.host, int(r.j), int(r.fetched_at_s), int(r.status))
        for r in log.collect()
    ]
    schema = "host string, j int, fetched_at_s long, status int"
    os.makedirs(src, exist_ok=True)
    slices = ([r for r in rows if r[1] < 2], [r for r in rows if r[1] >= 2])
    for i, chunk in enumerate(slices):
        spark.createDataFrame(chunk, schema).drop("j").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("host string, fetched_at_s long, status int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        robots_cache_stream(stream, now_s=_RC_NOW, max_age_s=_RC_MAX_AGE)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(out).collect()
    latest = {}
    for r in emitted:
        # the definitive clock only advances, so the final emission per
        # host is the one with the SMALLEST age_s; hosts whose age is
        # NULL in both emissions (never-definitive: disallow_all) have
        # identical interim and final states, so first-seen is safe
        if r.host not in latest or (
            r.age_s is not None
            and (latest[r.host].age_s is None or r.age_s < latest[r.host].age_s)
        ):
            latest[r.host] = r
    got = {
        h: (r.last_status, r.last_success_at, r.age_s, r.access_class,
            r.refetch_due)
        for h, r in latest.items()
    }
    exp = {
        r.host: (r.last_status, r.last_success_at, r.age_s, r.access_class,
                 r.refetch_due)
        for r in robots_cache_policy(
            log.drop("j"), now_s=_RC_NOW, max_age_s=_RC_MAX_AGE
        ).collect()
    }
    assert got == exp and len(got) > 0
    # all four access classes occur in the final states
    assert {c for _, _, _, c, _ in got.values()} == {
        "use_robots", "allow_all", "use_cached", "disallow_all"
    }
    # two emissions per host (every host appears in both slices)
    assert len(emitted) == 2 * len(exp)


def test_streaming_state_merge_matches_batch(spark, tmp_path):
    """Streamed crawl-state store == batch `crawl_state_merge` over the
    same cycle: after seeding the state snapshot (kind-0 rows) and
    replaying the fetch log in two slices, every emission matches the
    batch merge row for that URL, never-fetched state URLs match the
    batch 'carried' rows by staying untouched, and failed FIRST fetches
    produce no row in either engine."""
    import time

    from xeloader_spark.operators.crawl import crawl_state_merge
    from xeloader_spark.streaming.state_merge_stream import (
        state_merge_stream,
    )

    src = str(tmp_path / "sm_in")
    out = str(tmp_path / "sm_out")
    ckpt = str(tmp_path / "sm_ckpt")

    docs = load_table(spark, SF, "documents")
    # the q_crawl_state_merge fixture, verbatim
    state = (
        docs.selectExpr("source", "CAST(doc_id % 50 AS BIGINT) AS c_m")
        .distinct()
        .filter("c_m % 3 != 0")
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(c_m AS STRING)) AS url",
            "concat('2026-01-', lpad(CAST(1 + (c_m * 5) % 28 AS STRING), "
            "2, '0')) AS last_crawled",
            "md5(concat('https://www.', source, '.com/articles/', "
            "CAST(c_m AS STRING), ':old')) AS fp",
        )
    )
    fetched = (
        docs.selectExpr("source", "CAST((doc_id * 7) % 50 AS BIGINT) AS m")
        .distinct()
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING)) AS url",
            "'2026-02-01' AS fetch_date",
            "md5(concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING), ':new')) AS new_fp",
            "m % 4 != 0 AS ok",
            "m",
        )
    )
    schema = (
        "url string, kind int, `order` long, fetch_date string, "
        "fp string, ok boolean"
    )
    seeds = [
        (r.url, 0, 0, r.last_crawled, r.fp, None) for r in state.collect()
    ]
    frows = [
        (r.url, 1, 1, r.fetch_date, r.new_fp, bool(r.ok), int(r.m))
        for r in fetched.collect()
    ]
    os.makedirs(src, exist_ok=True)
    slices = (
        seeds,
        [r[:6] for r in frows if r[6] % 2 == 0],
        [r[:6] for r in frows if r[6] % 2 == 1],
    )
    for i, chunk in enumerate(slices):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        state_merge_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.url: (r.last_crawled, r.fp, r.merge_action)
        for r in spark.read.parquet(out).collect()
    }
    exp = {
        r.url: (r.last_crawled, r.fp, r.merge_action)
        for r in crawl_state_merge(state, fetched.drop("m"), fp_col="fp")
        .collect()
    }
    state_rows = {r.url: (r.last_crawled, r.fp) for r in state.collect()}
    assert set(got) <= set(exp)
    for url, row in exp.items():
        if url in got:
            assert got[url] == row, url
        else:
            # never-fetched state URL: batch says carried-unchanged,
            # the store just kept it (no emission)
            assert row == (*state_rows[url], "carried"), url
    # all three actions occur among the emissions
    assert {a for _, _, a in got.values()} == {
        "inserted", "updated", "carried"
    }
    # failed first fetches produced no row in either engine
    failed_first = {
        r[0] for r in frows
        if not r[5] and r[0] not in state_rows
    }
    assert failed_first and not (failed_first & set(got))
    assert not (failed_first & set(exp))


def test_streaming_frontier_trap_gate(spark, tmp_path):
    """`trap_threshold` composes the spider-trap gate into streaming
    admission (r13): trap-scored URLs (session ids, cycling segments)
    never reach the state store, graded score-1–2 URLs still admit
    (demotion is the batch scheduler's job), and without the flag the
    twin behaves exactly as before."""
    import time

    from xeloader_spark.streaming.frontier_stream import frontier_stream

    src = str(tmp_path / "tg_in")
    rows = [
        (1, "https://www.ex.com/articles/1"),
        (2, "https://www.ex.com/a/b?phpsessid=deadbeef"),      # trap: 3
        (3, "https://www.ex.com/p/q/p/q/p"),                   # trap: 3
        (4, "https://www.ex.com/s?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9"),  # 1
    ]
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, url string"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/slice=0")
    time.sleep(0.2)

    def run(out, ckpt, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/slice=*")
        )
        q = (
            frontier_stream(stream, [], **kw)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.canonical_url for r in spark.read.parquet(out).collect()
        }

    gated = run(str(tmp_path / "tg_out1"), str(tmp_path / "tg_ck1"),
                trap_threshold=3)
    plain = run(str(tmp_path / "tg_out2"), str(tmp_path / "tg_ck2"))
    assert len(plain) == 4  # no gate: all four admit
    assert len(gated) == 2  # gate: the two trap shapes never admit
    assert not {u for u in gated if "phpsessid" in u or "/p/q/p" in u}
    assert any("a=1" in u for u in gated)  # score-1 URL still admits


def test_streaming_robots_cache_out_of_order_slices(spark, tmp_path):
    """The cache-policy clocks fold as conditional MAX, so replaying
    the slices OUT of order (late attempts first, early attempts
    second) cannot regress last_success/last_definitive — the final
    per-host state still equals the batch aggregate (r13 review fix:
    a half-guarded assign silently rewound the freshness clock)."""
    import time

    from xeloader_spark.operators.crawl import robots_cache_policy
    from xeloader_spark.queries.crawl import (
        _RC_MAX_AGE,
        _RC_NOW,
        _robots_fetch_status_sql,
    )
    from xeloader_spark.streaming.robots_cache_stream import (
        robots_cache_stream,
    )

    src = str(tmp_path / "rco_in")
    out = str(tmp_path / "rco_out")
    ckpt = str(tmp_path / "rco_ckpt")

    log = (
        load_table(spark, SF, "documents")
        .selectExpr("source").distinct()
        .selectExpr(
            "lower(concat('www.', source, '.com')) AS host",
            "CAST(substr(source, 4) AS INT) AS s",
        )
        .select("host", "s", F.explode(F.expr("sequence(0, 3)")).alias("j"))
        .selectExpr(
            "host",
            "j",
            "CAST(1000 * s + 30000 * j + CASE WHEN s >= 10 THEN 30000 "
            "ELSE 0 END AS BIGINT) AS fetched_at_s",
            f"CAST({_robots_fetch_status_sql()} AS INT) AS status",
        )
    )
    rows = [
        (r.host, int(r.j), int(r.fetched_at_s), int(r.status))
        for r in log.collect()
    ]
    schema = "host string, j int, fetched_at_s long, status int"
    os.makedirs(src, exist_ok=True)
    # REVERSED slice order: the late half of every host's log arrives
    # in micro-batch 0, the early half in micro-batch 1
    slices = ([r for r in rows if r[1] >= 2], [r for r in rows if r[1] < 2])
    for i, chunk in enumerate(slices):
        spark.createDataFrame(chunk, schema).drop("j").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/slice={i}")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("host string, fetched_at_s long, status int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    q = (
        robots_cache_stream(stream, now_s=_RC_NOW, max_age_s=_RC_MAX_AGE)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # with the late half folded FIRST, the second emission's clocks
    # must equal the first's (nothing in the early half may advance or
    # rewind them) — so EVERY emission equals the batch row
    emitted = spark.read.parquet(out).collect()
    exp = {
        r.host: (r.last_status, r.last_success_at, r.age_s, r.access_class,
                 r.refetch_due)
        for r in robots_cache_policy(
            log.drop("j"), now_s=_RC_NOW, max_age_s=_RC_MAX_AGE
        ).collect()
    }
    assert len(emitted) == 2 * len(exp)
    for r in emitted:
        assert (
            r.last_status, r.last_success_at, r.age_s, r.access_class,
            r.refetch_due,
        ) == exp[r.host], r.host
