"""Ingest dataflow tests (SURVEY §5.3-5.4): end-to-end load, write-mode
matrix, session/pattern gates, lineage, error budget, row conservation."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from xeloader_spark.catalog import load_table
from xeloader_spark.operators import ingest as ing

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def xel_dir(spark, tmp_path_factory):
    """Simulate a directory of XE session files: the events fixture split
    into 4 parquet files named SessionA_<part>_<stamp>.parquet, plus one
    foreign-session file and one file dense with malformed payloads."""
    root = str(tmp_path_factory.mktemp("xel_in"))
    ev = load_table(spark, SF, "events")
    parts = ev.randomSplit([1.0, 1.0, 1.0, 1.0], seed=42)
    stage = os.path.join(root, "_stage")
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(stage)
        src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(
            os.path.join(stage, src),
            os.path.join(root, f"SessionA_{i}_13200{i}.parquet"),
        )
    # foreign session file (should be gated out by S3)
    parts[0].limit(50).coalesce(1).write.mode("overwrite").parquet(stage)
    src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.rename(os.path.join(stage, src), os.path.join(root, "OtherSess_0_999.parquet"))
    # bad file: same session naming, malformed props on 150 rows
    bad = parts[1].limit(200).withColumn(
        "props",
        F.when(F.col("event_id") % 4 != 0, F.lit("not-json")).otherwise(
            F.col("props")
        ),
    )
    bad.coalesce(1).write.mode("overwrite").parquet(stage)
    src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.rename(os.path.join(stage, src), os.path.join(root, "SessionA_9_132009.parquet"))
    shutil.rmtree(stage)
    n_bad_rows = bad.count()
    n_bad_errors = bad.filter(F.col("props") == "not-json").count()
    return root, n_bad_rows, n_bad_errors


def test_leading_file_pattern():
    # FileProcessor.cs:336-378 semantics
    assert ing.get_leading_file_pattern("XESess_0_132435.xel") == "XESess*"
    assert ing.get_leading_file_pattern("/a/b/My_Trace_7_99.xel") == "My_Trace*"
    assert ing.get_leading_file_pattern("plain.xel") == "plain*"
    assert ing.get_leading_file_pattern("one_seg.xel") == "one_seg*"


def test_wildcard_to_regex():
    rx = ing.wildcard_to_regex("Sess?on*_1.par*")
    import re

    assert re.match(rx, "SessIon_ABC_1.parquet")
    assert not re.match(rx, "Session_1.txt")


def test_end_to_end_ingest(spark, xel_dir, tmp_path):
    root, n_bad_rows, n_bad_errors = xel_dir
    out = str(tmp_path / "out")
    cfg = ing.IngestConfig(write_mode="overwrite", max_errors_per_file=100)
    rep = ing.ingest(spark, root, out, cfg)

    # session gate: OtherSess file excluded; 4 good + 1 bad session files
    assert rep.n_files == 5
    assert rep.n_files_aborted == 1  # malformed count ≥ budget of 100
    assert rep.n_errors == n_bad_errors

    result = spark.read.parquet(out)
    # demux produced one partition dir per event type
    types = {r.event_type for r in result.select("event_type").distinct().collect()}
    assert types == {"click", "error", "purchase", "signup", "view"}
    # row conservation: 1000 fixture rows in the 4 good files; the aborted
    # file contributes nothing
    assert result.count() == 1000
    assert rep.n_events == 1000
    # flat schema contract
    for c in (
        "e_imported_file_id",
        "e_time_of_event",
        "e_time_of_event_utc",
        "e_time_of_event_local",
        "c_event_sequence",
        "c_value",
        "c_props",
        "a_user_id",
    ):
        assert c in result.columns, c
    # lineage stamped and consistent
    lineage = spark.read.parquet(out + "_lineage")
    assert lineage.count() == 5
    joined = result.join(
        lineage, result.e_imported_file_id == lineage.file_id, "left_anti"
    )
    assert joined.count() == 0


def test_demux_partition_union_reconstructs(spark, xel_dir, tmp_path):
    root, _, _ = xel_dir
    out = str(tmp_path / "out2")
    cfg = ing.IngestConfig(write_mode="overwrite")
    ing.ingest(spark, root, out, cfg)
    result = spark.read.parquet(out)
    per_type = [
        result.filter(F.col("event_type") == t).count()
        for t in ("click", "error", "purchase", "signup", "view")
    ]
    assert sum(per_type) == result.count()


def test_write_mode_matrix(spark, xel_dir, tmp_path):
    root, _, _ = xel_dir
    out = str(tmp_path / "modes")
    cfg_o = ing.IngestConfig(write_mode="overwrite")
    ing.ingest(spark, root, out, cfg_o)
    n1 = spark.read.parquet(out).count()

    # append: re-import duplicates rows (reference re-imports happily,
    # SURVEY §7.3 append idempotence note)
    cfg_a = ing.IngestConfig(write_mode="append")
    ing.ingest(spark, root, out, cfg_a)
    assert spark.read.parquet(out).count() == 2 * n1

    # truncate: arriving event types replaced, not appended
    cfg_t = ing.IngestConfig(write_mode="truncate")
    ing.ingest(spark, root, out, cfg_t)
    assert spark.read.parquet(out).count() == n1

    # overwrite wipes
    ing.ingest(spark, root, out, cfg_o)
    assert spark.read.parquet(out).count() == n1


def test_sink_format_matrix_roundtrip(spark, tmp_path):
    """Every storage_format demuxes, honors partitioning, and reads back
    row-identical (csv readback uses the declared schema + the writer's
    timestamp format — the lossless-flat-columns contract)."""
    src = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 1, 0, 0, 0, 123456), "click", 1.5, 'a,"b"'),
            (2, dt.datetime(2026, 1, 1, 0, 0, 1, 654321), "error", -0.25, "x\ny"),
            (3, dt.datetime(2026, 1, 1, 0, 0, 2), "click", 3.0, None),
        ],
        "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE, props STRING",
    )
    flat_schema = "event_id BIGINT, ts TIMESTAMP, value DOUBLE, props STRING"
    for fmt in ("parquet", "orc", "csv", "json"):
        out = str(tmp_path / f"sink_{fmt}")
        ing.demux_write(
            src,
            out,
            ing.IngestConfig(write_mode="overwrite", storage_format=fmt),
        )
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.schema(flat_schema).option("header", "true").option(
                "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).option("multiLine", "true")
        elif fmt == "json":
            reader = reader.schema(flat_schema).option(
                "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            )
        back = reader.load(out).select(
            "event_id", "ts", "event_type", "value", "props"
        )
        got = sorted(tuple(r) for r in back.collect())
        want = sorted(tuple(r) for r in src.collect())
        assert got == want, f"{fmt} readback mismatch: {got} != {want}"


def test_register_then_load_crash_never_duplicates(
    spark, xel_dir, tmp_path, monkeypatch
):
    # Register-then-load order (reference inserts tbl_ImportedXEventFiles
    # before loading): a crash between the lineage write and the data
    # write must leave the files REGISTERED, so a rerun skips them rather
    # than appending the same events twice.
    root, _, _ = xel_dir
    out = str(tmp_path / "crash")

    real_demux = ing.demux_write

    def boom(*a, **k):
        raise RuntimeError("simulated crash during data write")

    monkeypatch.setattr(ing, "demux_write", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ing.ingest(spark, root, out, ing.IngestConfig(write_mode="append"))
    # lineage registered BEFORE the (failed) data write
    lineage = spark.read.parquet(out + "_lineage")
    n_registered = lineage.count()
    assert n_registered == 5

    monkeypatch.setattr(ing, "demux_write", real_demux)
    # rerun: registered files are skipped — zero rows double-loaded
    rep = ing.ingest_incremental(spark, root, out, ing.IngestConfig())
    assert rep.n_files == 0
    assert spark.read.parquet(out + "_lineage").count() == n_registered


def test_truncation_counted(spark, xel_dir, tmp_path):
    root, _, _ = xel_dir
    out = str(tmp_path / "trunc")
    cfg = ing.IngestConfig(write_mode="overwrite", bound_widths=True, string_trunc=8)
    rep = ing.ingest(spark, root, out, cfg)
    assert rep.n_truncated > 0
    maxlen = (
        spark.read.parquet(out)
        .select(F.max(F.length("c_props")).alias("m"))
        .first()
        .m
    )
    assert maxlen <= 8


def test_error_budget_disabled_keeps_file(spark, xel_dir, tmp_path):
    root, n_bad_rows, n_bad_errors = xel_dir
    out = str(tmp_path / "lenient")
    cfg = ing.IngestConfig(write_mode="overwrite", max_errors_per_file=10_000)
    rep = ing.ingest(spark, root, out, cfg)
    assert rep.n_files_aborted == 0
    # bad rows are still excluded, but the good rows of the bad file load
    assert rep.n_events == 1000 + (n_bad_rows - n_bad_errors)


def test_cli_entry_point(spark, xel_dir, tmp_path, capsys):
    """S28 CLI parity: the module entry point runs the full ingest with
    reference-style flags and prints the run-stats JSON."""
    import json as _json

    from xeloader_spark.__main__ import main

    root, _, _ = xel_dir
    out = str(tmp_path / "cli_out")
    rc = main(["-D", root, "-o", out, "-w", "-e", "100", "-L", "1024"])
    printed = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2  # the malformed file aborts (error budget)
    assert printed["n_files"] == 5 and printed["n_files_aborted"] == 1
    assert printed["n_events"] == 1000
    assert spark.read.parquet(out).count() == 1000

    # --incremental re-run: nothing new, exit clean, output unchanged
    rc2 = main(["-D", root, "-o", out, "--incremental", "-e", "100"])
    printed2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 0 and printed2["n_files"] == 0
    assert spark.read.parquet(out).count() == 1000


def test_incremental_ingest_skips_loaded_files(spark, xel_dir, tmp_path):
    """S23 as a gate: second run on an unchanged directory loads nothing;
    after a new file appears only IT is loaded; file_ids keep ascending."""
    root, _, _ = xel_dir
    out = str(tmp_path / "inc_out")
    cfg = ing.IngestConfig(write_mode="append", max_errors_per_file=100)

    rep1 = ing.ingest_incremental(spark, root, out, cfg)
    assert rep1.n_files == 5
    n1 = spark.read.parquet(out).count()

    rep2 = ing.ingest_incremental(spark, root, out, cfg)
    assert rep2.n_files == 0  # idempotent: nothing new
    assert spark.read.parquet(out).count() == n1

    # a new session file appears
    ev = load_table(spark, SF, "events").limit(120)
    stage = str(tmp_path / "stage")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.rename(os.path.join(stage, src), os.path.join(root, "SessionA_7_132007.parquet"))

    rep3 = ing.ingest_incremental(spark, root, out, cfg)
    assert rep3.n_files == 1
    assert spark.read.parquet(out).count() == n1 + 120
    # id sequence continues past the first run's max
    lin = spark.read.parquet(out + "_lineage")
    ids = sorted(r.file_id for r in lin.collect())
    assert len(ids) == len(set(ids)) == 6 and ids[-1] == 6


def test_compaction_conserves_rows_and_merges_files(spark, xel_dir, tmp_path):
    """Fragmented demux output (many tiny appends) compacts into few
    ~target-row files with identical data."""
    root, _, _ = xel_dir
    out = str(tmp_path / "frag_out")
    cfg = ing.IngestConfig(write_mode="append", max_errors_per_file=100)
    # fragment: three incremental-style appends of the same small corpus
    for _ in range(3):
        ing.ingest(spark, root, out, cfg)
    frag = spark.read.parquet(out)
    n_rows = frag.count()
    n_frag_files = len(frag.inputFiles())

    compacted_path = str(tmp_path / "compact_out")
    ing.compact_output(spark, out, compacted_path, target_rows_per_file=2000)
    comp = spark.read.parquet(compacted_path)
    assert comp.count() == n_rows
    assert len(comp.inputFiles()) < n_frag_files
    # same data, not just same count (hash both sides, order-free)
    cols = sorted(c for c in frag.columns if c != "e_imported_file_id")
    h = lambda df: df.select(*cols).selectExpr(
        "sum(crc32(concat_ws('|', *))) AS h"
    ).collect()[0].h
    assert h(frag) == h(comp)


def test_cli_format_flag_orc(spark, xel_dir, tmp_path, capsys):
    """--format routes the whole CLI ingest through a non-parquet sink."""
    import json as _json

    from xeloader_spark.__main__ import main

    root, _, _ = xel_dir
    out = str(tmp_path / "cli_orc")
    rc = main(["-D", root, "-o", out, "-w", "-e", "100", "--format", "orc"])
    printed = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # earlier module tests may add session files to the shared fixture
    # dir; the invariant is report ↔ sink agreement, not a fixed count
    assert printed["n_events"] >= 1000
    assert spark.read.orc(out).count() == printed["n_events"]
    assert rc == 2  # malformed-file abort unchanged by the format


def test_json_source_reads_gzip_transparently(spark, tmp_path):
    """Spark's text sources decompress .gz by extension — the JSON-lines
    event source must ingest compressed logs with no config."""
    import gzip

    from xeloader_spark.sources.json_events import read_json_events

    lines = [
        '{"event_id": 1, "ts": "2026-01-01 00:00:00.000001", "user_id": 7,'
        ' "event_type": "click", "value": 1.5, "props": "{}"}',
        '{"event_id": 2, "ts": "2026-01-01 00:00:01.000002", "user_id": 8,'
        ' "event_type": "view", "value": 2.5, "props": "{}"}',
    ]
    p = tmp_path / "events.jsonl.gz"
    with gzip.open(p, "wt") as f:
        f.write("\n".join(lines))
    got = read_json_events(spark, str(tmp_path)).collect()
    assert len(got) == 2
    assert {r.event_id for r in got} == {1, 2}


def _assert_rows_stamped(spark, out):
    """Every stored row carries a file id that names a `_lineage` row."""
    result = spark.read.parquet(out)
    lineage = spark.read.parquet(out + "_lineage")
    assert result.filter(F.col("e_imported_file_id").isNull()).count() == 0
    orphans = result.join(
        lineage, result.e_imported_file_id == lineage.file_id, "left_anti"
    )
    assert orphans.count() == 0


def test_incremental_ingest_escaped_paths(spark, xel_dir, tmp_path):
    """A directory and file names with a space and a `%`, and file names
    with glob metacharacters: the listing's URIs are percent-encoded, so
    they must be decoded (and glob-escaped) to be read, while the lineage
    keeps the encoded form that `input_file_name()` stamps."""
    root, _, _ = xel_dir
    src = str(tmp_path / "in dir %41")
    os.makedirs(src)

    def add_file(i):
        shutil.copy(
            os.path.join(root, f"SessionA_{i}_13200{i}.parquet"),
            os.path.join(src, f"Sess A%25[1]{{a,b}}*?_{i}_13200{i}.parquet"),
        )

    for i in range(3):
        add_file(i)
    out = str(tmp_path / "out %41")

    rep1 = ing.ingest(spark, src, out, ing.IngestConfig(write_mode="overwrite"))
    assert rep1.n_files == 3
    n1 = spark.read.parquet(out).count()
    assert n1 == rep1.n_events > 0
    _assert_rows_stamped(spark, out)

    # one new file appears; only it is loaded
    add_file(3)
    rep2 = ing.ingest_incremental(spark, src, out, ing.IngestConfig())
    assert rep2.n_files == 1
    assert spark.read.parquet(out).count() == n1 + rep2.n_events
    _assert_rows_stamped(spark, out)
    lineage = spark.read.parquet(out + "_lineage").collect()
    assert sorted(r.file_id for r in lineage) == [1, 2, 3, 4]
    stored = {
        r.f
        for r in spark.read.parquet(out)
        .select(F.col("e_source_file").alias("f"))
        .distinct()
        .collect()
    }
    assert stored == {r.file_path for r in lineage}


def test_zero_row_file_registered_once(spark, xel_dir, tmp_path):
    """A listed file with no rows is registered like any other (the
    reference registers every file it opens), loads nothing, and later
    incremental runs see it as already loaded."""
    root, _, _ = xel_dir
    src = str(tmp_path / "in")
    os.makedirs(src)
    for n in [f"SessionA_{i}_13200{i}.parquet" for i in range(4)] + [
        "SessionA_9_132009.parquet",
        "OtherSess_0_999.parquet",
    ]:
        shutil.copy(os.path.join(root, n), src)
    stage = str(tmp_path / "stage")
    load_table(spark, SF, "events").limit(0).coalesce(1).write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    empty = "SessionA_5_132005.parquet"
    os.rename(os.path.join(stage, part), os.path.join(src, empty))

    out = str(tmp_path / "out")
    cfg = ing.IngestConfig(write_mode="overwrite", max_errors_per_file=100)
    rep = ing.ingest(spark, src, out, cfg)
    assert rep.n_files == 6
    assert rep.n_events == 1000
    lineage = spark.read.parquet(out + "_lineage")
    empty_ids = [r.file_id for r in lineage.collect() if r.file_name == empty]
    assert len(empty_ids) == 1
    stored = spark.read.parquet(out)
    assert stored.filter(F.col("e_imported_file_id") == empty_ids[0]).count() == 0

    for _ in range(2):
        inc = ing.ingest_incremental(spark, src, out, ing.IngestConfig())
        assert inc.n_files == 0
    assert spark.read.parquet(out + "_lineage").count() == 6
    assert spark.read.parquet(out).count() == 1000


def test_listing_starts_no_job(spark, xel_dir):
    """The file inventory comes from the listing alone: no Spark job, so
    no event row is read to decide a load's files."""
    root, _, _ = xel_dir
    sc = spark.sparkContext
    sc.setJobGroup("list_event_files", "listing only")
    try:
        files = ing.list_event_files(spark, root, ing.IngestConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert files and all("OtherSess" not in f for f in files)
    assert files == sorted(files)
    assert sc.statusTracker().getJobIdsForGroup("list_event_files") == []
