"""Ingest-dataflow operators (SURVEY §2.1) as oracle-checkable queries.

Each query exercises one S-operator's semantics over the `events` fixture
so the driver's DuckDB gate covers the ingest surface, not just the query
surface. The full pipeline (multi-file demux write, write modes, lineage
persistence) is exercised in tests/test_ingest.py — file-system effects
can't be a SELECT.

Conventions: synthesized per-row "file names" derive from `user_id % 4`
(the fixture is a single parquet per scale factor, so provenance is
simulated deterministically — both engines compute the identical name);
pseudo-errors derive from md5(props) so error counting is exercised on
data that is actually all-valid JSON.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.callstack import callstack_debugcmd_expr
from ..operators.kernels import local_frame

_FNAME = "concat('SessionA_', CAST(user_id % 4 AS STRING), '_13200', CAST(user_id % 4 AS STRING), '.parquet')"
_FNAME_DUCK = "concat('SessionA_', CAST(user_id % 4 AS VARCHAR), '_13200', CAST(user_id % 4 AS VARCHAR), '.parquet')"
_IS_ERR = "CASE WHEN substr(md5(props), 1, 1) IN ('0','1') THEN 1 ELSE 0 END"


def q_flatten_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+S10: the flat c_/a_/e_ row model (EventHolder.cs:99-271) — engine
    time columns, prefixed field/action columns, routing key last."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("c_event_sequence"),
        F.date_trunc("minute", F.col("ts")).alias("e_time_of_event"),
        F.col("ts").alias("e_time_of_event_utc"),
        (F.col("ts") + F.expr("INTERVAL 330 MINUTES")).alias("e_time_of_event_local"),
        F.col("value").alias("c_value"),
        F.col("props").alias("c_props"),
        F.col("user_id").alias("a_user_id"),
        "event_type",
    )


def q_string_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: width-bounding string truncation with per-row flag
    (EventHolder.cs:273-293), width 8 to actually truncate fixture data."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.substring("props", 1, 8).alias("c_props"),
        (F.length("props") > 8).cast("long").alias("was_truncated"),
    )


def q_binary_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: width-bounding BINARY truncation on the driver path
    (VERDICT r10 #6 — the last pytest-only value transform): the
    reference's binary path (EventHolder.cs:319-339) truncates LOB
    bytes to the binary width; its `:327` bug (copying the STRING
    width instead) is deliberately NOT replicated (SURVEY §5), so this
    row pins the CORRECT width cross-engine. Fixture: md5(props)
    repeated 1-3× and unhex'd gives 16/32/48-byte payloads straddling
    the 24-byte width; the result is re-hex'd so DuckDB value-hashes
    the exact truncated BYTES (the oracle replays on the hex string —
    byte-aligned truncation is substr(hex, 1, 2·width)). Zero
    shuffles; flag mirrors S27's truncation counters."""
    from ..functions.truncation import truncate_binary, truncation_flag

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        F.unhex(
            F.expr("repeat(md5(props), CAST(1 + event_id % 3 AS INT))")
        ).alias("raw"),
    )
    return b.select(
        "event_id",
        F.length("raw").cast("long").alias("n_bytes"),
        F.hex(truncate_binary("raw", 24)).alias("c_payload_hex"),
        truncation_flag("raw", 24).alias("was_truncated"),
    )


def q_coercion_nulling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: non-primitive→string coercion + module statement nulling on
    the driver path (VERDICT r10 #6): the reference stringifies
    map/XML values in its fields/actions loops (EventHolder.cs:135-183)
    and NULLS `module_start`/`module_end`.`statement` — a known data
    bug in SQL 2012/2014 traces (EventHolder.cs:166-171). Fixture: an
    event_type × payload matrix cycling 5 types by event_id so both
    module_* types actually occur, each row carrying a statement and a
    MAP payload; `null_module_statement` gates the statement,
    `stringify_columns` JSON-ifies the map (to_json, not Spark's
    `{k -> v}` cast rendering). Aggregated per type: the null counts
    pin the gate's selectivity, min/max pin the surviving statement
    values and the exact JSON serialization cross-engine."""
    from ..functions.coercion import null_module_statement, stringify_columns

    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "event_id",
        F.expr(
            "element_at(array('module_start', 'module_end', "
            "'sql_batch_completed', 'rpc_completed', 'wait_info'), "
            "CAST(event_id % 5 AS INT) + 1)"
        ).alias("etype"),
        F.expr("concat('SELECT ', CAST(event_id AS STRING))").alias(
            "c_statement"
        ),
        F.create_map(
            F.lit("k"), F.col("event_id").cast("string")
        ).alias("payload"),
    )
    nulled = null_module_statement(m, event_type_col="etype")
    flat = stringify_columns(nulled, "payload")
    return flat.groupBy("etype").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("c_statement").isNull().cast("long"))
        .cast("long")
        .alias("n_stmt_nulled"),
        F.min("c_statement").alias("min_stmt"),
        F.max("c_statement").alias("max_stmt"),
        F.min("payload").alias("min_payload_json"),
        F.max("payload").alias("max_payload_json"),
    )


def q_hash_bin_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: UInt64 → big-endian hex image (the string form of the
    `a_query_hash_bin` dual column, EventHolder.cs:218-225). The binary
    form is `unhex` of this — pinned in unit tests; hex keeps the oracle
    comparable."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("user_id").alias("a_query_hash"),
        F.lpad(F.hex("user_id"), 16, "0").alias("a_query_hash_bin_hex"),
    )


def q_callstack_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: callstack frame decode (EventHolder.cs:341-358) on a
    deterministic synthetic callstack (md5(props) = 16 bytes = two 8-byte
    frames), via the pure-JVM expression variant."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("cs", F.unhex(F.md5("props")))
        .select(
            "event_id",
            callstack_debugcmd_expr("cs", 8, "ln ").alias("a_callstack_debugcmd"),
        )
    )


def q_session_pattern_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: session-prefix inference (GetLeadingFilePattern,
    FileProcessor.cs:336-378) as a regex over synthesized file names,
    aggregated per derived session prefix."""
    ev = load_table(spark, sf_dir, "events")
    fname = F.expr(_FNAME)
    stem = F.regexp_replace(fname, r"\.[^.]*$", "")
    prefix = F.regexp_extract(stem, r"^(.*)_[^_]+_[^_]+$", 1)
    return (
        ev.select(prefix.alias("session_prefix"), fname.alias("file_name"))
        .groupBy("session_prefix")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("file_name").alias("n_files"),
        )
    )


def q_lineage_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23: lineage dimension + per-row file-id stamping
    (EventHolder.cs:446-511). The dimension is the distinct file set with
    a dense surrogate key; the stamp is a broadcast join; result is rows
    per file — the reference's per-file tracking row."""
    from xeloader_spark.operators.rank import global_row_number

    ev = load_table(spark, sf_dir, "events").withColumn("file_name", F.expr(_FNAME))
    lineage = global_row_number(
        ev.select("file_name").distinct(), ["file_name"], out_col="file_id"
    )
    return (
        ev.join(F.broadcast(lineage), "file_name")
        .groupBy("file_id", "file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_seq"),
            F.max("event_id").alias("max_seq"),
        )
    )


def q_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S26: bounded error tolerance (EventHolder.cs:76-96) — per-file
    pseudo-error counts and the abort decision at budget 100."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr(_FNAME).alias("file_name"),
            F.expr(_IS_ERR).cast("long").alias("is_error"),
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("is_error").alias("n_errors"),
        )
        .withColumn("aborted", F.col("n_errors") >= 100)
    )


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S9: typed extraction from the stringified payload — the schema-
    inference → typed-column path (ExtractMetadataFromFile +
    GetDataFromEvent) applied to the fixture's JSON `props`: pull `k` out
    as a typed `c_k` column next to the raw payload."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("c_k"),
        F.col("props").alias("c_props"),
    )


def q_event_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sequencing with lead/lag — inter-event gaps per user over the
    precise UTC timestamp (the `datetime2(7)` ordering use-case,
    InputParameters.cs:624-625). Gap is exact integer microseconds."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_us = (
        F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    ).alias("gap_us")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        gap_us,
        F.lead("event_id").over(w).alias("next_event_id"),
    )


def q_smalldatetime_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 variant: the exact SQL Server smalldatetime rounding (seconds
    ≥ 29.998 round UP — EventMetadata.cs:307-308 stores the coarse column
    as smalldatetime and relies on the server's cast), distinguished from
    the default date_trunc coarse column."""
    from ..functions.timeutil import smalldatetime_round

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        smalldatetime_round(F.col("ts")).alias("e_time_of_event_rounded"),
        F.date_trunc("minute", F.col("ts")).alias("e_time_of_event_trunc"),
    )


def q_demux_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: demultiplex by event name (EventHolder.cs:54-57) — the routing
    scatter as its per-type cardinality + sequence range."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("min_seq"),
        F.max("event_id").alias("max_seq"),
    )


def q_run_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S27: global run statistics (TrackStatus.cs:16-63) — one row of
    engine counters."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.sum(F.expr(_IS_ERR).cast("long")).alias("n_errors"),
        F.sum((F.length("props") > 64).cast("long")).alias("n_truncated"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


_CS_FRAME1 = "||".join(f"substr(h, {i}, 2)" for i in range(15, 0, -2))
_CS_FRAME2 = "||".join(f"substr(h, {i}, 2)" for i in range(31, 16, -2))

def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-as-XML, end-to-end and EXACT-checked: every events row is
    rendered as a public `fn_xe_file_target_read_file` document
    (`sources/xe_xml.build_event_xml` — entity-escaped, `props` in the
    SDK's nested `<value><text>…</text></value>` readable-map form, ts at
    microsecond precision), parsed back through the structural `from_xml`
    source, and projected to typed columns. The oracle is simply the
    original table: any parse loss — nested payloads, entity unescaping,
    timestamp precision, numeric round-trip — breaks the hash match."""
    from ..sources import xe_xml

    ev = load_table(spark, sf_dir, "events")
    xml_df = ev.select(
        xe_xml.build_event_xml(
            F.col("event_type"),
            F.col("ts"),
            data={
                "event_id": F.col("event_id"),
                "value": F.col("value"),
                "props": F.col("props"),
            },
            actions={"user_id": F.col("user_id")},
            nested_text={"props"},
        ).alias("xml")
    )
    parsed = xe_xml.parse_events_xml(xml_df)
    return parsed.select(
        F.element_at("fields", "event_id").cast("long").alias("event_id"),
        "event_type",
        "ts",
        F.element_at("fields", "value").cast("double").alias("value"),
        F.element_at("fields", "props").alias("props"),
        F.element_at("actions", "user_id").cast("long").alias("user_id"),
    )


_EV_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
_TS_OPTS = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}


def q_fixedwidth_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (copybook) serialization boundary, exact-checked
    in-plan: every orders row rendered to a positional 75-char record
    (`sources/fixed_width.py` — lpad/rpad alignment, decimal-scaled
    price, 19-char timestamp) and parsed back by the same colspec. The
    oracle is the original table, so an off-by-one offset, a padding/
    trim asymmetry, or decimal-scale loss breaks the hash. Pure
    projection, zero shuffle."""
    from ..sources import fixed_width as fw

    orders = load_table(spark, sf_dir, "orders")
    lines = fw.render_fixed_width(orders, fw.ORDERS_SPEC)
    back = fw.parse_fixed_width(lines, fw.ORDERS_SPEC)
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV serialization boundary, exact-checked in-plan: every events
    row rendered to a CSV line (`to_csv` — quoting/escaping live here)
    and parsed back with the declared schema (`from_csv`). The oracle is
    the original table, so any quoting, timestamp-precision, or
    float-formatting loss breaks the hash. Pure projection, zero shuffle;
    the file-sink variant of the same boundary (demux_write
    storage_format='csv') is pinned by the write-matrix tests."""
    ev = load_table(spark, sf_dir, "events")
    line = ev.select(
        F.to_csv(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
            _TS_OPTS,
        ).alias("line")
    )
    back = line.select(
        F.from_csv(F.col("line"), F.lit(_EV_SCHEMA), _TS_OPTS).alias("r")
    )
    return back.select("r.*")


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines serialization boundary (the shape `sources/json_events`
    ingests), exact-checked in-plan: `to_json` → `from_json` against the
    identity oracle — escaping, unicode, null handling, and timestamp
    precision all on the hook."""
    ev = load_table(spark, sf_dir, "events")
    doc = ev.select(
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
            _TS_OPTS,
        ).alias("doc")
    )
    back = doc.select(
        F.from_json(F.col("doc"), _EV_SCHEMA, _TS_OPTS).alias("r")
    )
    return back.select("r.*")


_WARC_FILE_DOCS = 25  # docs per synthesized .warc blob


def _warc_seed_sqls(d: dict) -> tuple[str, str]:
    """(record_sql, status_sql) for the in-plan WARC fixture in dialect
    `d`: every document becomes one response record (~9% seeded as 404
    with a stub body), 25 records per file blob."""
    S = d["S"]
    status = "CASE WHEN doc_id % 11 = 3 THEN '404' ELSE '200' END"
    body = "CASE WHEN doc_id % 11 = 3 THEN 'not found' ELSE text END"
    from ..sources.warc import http_block_sql, warc_record_sql

    http = http_block_sql(d, status, body)
    uri = f"concat('https://example.org/', lang, '/', CAST(doc_id AS {S}))"
    return warc_record_sql(d, "doc_id", uri, http), status


def pack_warc_blobs(docs: DataFrame, per_file: int = _WARC_FILE_DOCS) -> DataFrame:
    """Pack seeded WARC records into per-file blob rows (warc_file,
    warc_blob): doc_id-ordered records, `per_file` per blob — the ONE
    synthesis aggregate shared by q_warc_extract, the scale-stress blob
    fixture, and the reader-parity test fixture (r8 review: three
    byte-identical copies would drift on any framing change)."""
    from ..sources.warc import SPARK_DIALECT

    rec, _ = _warc_seed_sqls(SPARK_DIALECT)
    return (
        docs.select("doc_id", "lang", "text")
        .select(
            F.expr(f"doc_id DIV {per_file}").alias("warc_file"),
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


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC web-archive ingestion end-to-end (`sources/warc.py` — the
    container format of web-scale pretraining corpora): documents are
    rendered in-plan into spec-shaped WARC/1.0 response records (WARC
    headers, Content-Length, HTTP envelope; ~9% seeded 404s), packed 25
    records per file blob, then parsed back by the pure string-function
    record parser. Output: every record's typed fields plus the
    `len_ok` Content-Length audit and the payload digest — so record
    splitting, header extraction, status parsing, and payload recovery
    all hash-check against the DuckDB replay of the same synthesis.

    Scale shape: synthesis is one projection + one group agg (fixture
    only); the PARSER — the part a crawl pipeline runs — is one
    posexplode + codegen string functions, zero shuffles, zero joins."""
    from ..sources.warc import parse_warc

    docs = load_table(spark, sf_dir, "documents")
    parsed = parse_warc(pack_warc_blobs(docs))
    return parsed.select(
        F.col("warc_file").cast("long").alias("warc_file"),
        "rec_seq",
        "warc_type",
        "target_uri",
        "record_id",
        "content_length",
        "http_status",
        "len_ok",
        F.md5("payload").alias("payload_md5"),
    )


# full-row signature for the reader-contract fingerprint: every typed
# field (NOT warc_file — the reader keys rows by full path, the blob
# twin by synthetic ids) folded to one summable bigint per row
_WARC_ROW_FP = (
    "sum(CAST(conv(substr(md5(concat_ws('|', "
    "coalesce(warc_type, ''), coalesce(target_uri, ''), "
    "coalesce(record_id, ''), "
    "coalesce(CAST(content_length AS STRING), ''), "
    "coalesce(CAST(http_status AS STRING), ''), "
    "coalesce(payload, ''), "
    "coalesce(CAST(len_ok AS STRING), ''))), 1, 8), 16, 10) AS BIGINT))"
)


def q_warc_reader_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver coverage for the ACTUAL 100 TB WARC ingest paths (VERDICT
    r8 #5): `read_warc` (record-per-row text source) and `read_warc_gz`
    (gzip-member reader) were pytest-only while the driver checked the
    blob twin. The `q_hyperball_contract` pattern: deterministic multi-
    record `.warc` + `.warc.gz` files are written under the warehouse
    tmp dir at query time — including a UTF-8-BOM'd file and a file
    with a non-WARC preamble — read back through BOTH readers, and the
    pinned booleans compare them record-keyed against `parse_warc` over
    the same strings. Every leg is FALSIFIABLE:

    - `reader_blob_agree` fails if the readers' record framing, BOM
      strip, or preamble handling drifts from the blob parser (full
      7-field row fingerprints, preamble audit row included);
    - `gz_blob_agree` fails if the incremental gzip-member inflate
      splits records differently from the plain-text path;
    - `len_ok_all` fails on any Content-Length reconstruction miss;
    - `n_null_reader` = 1 pins BOTH that the non-WARC preamble
      surfaces as exactly one all-NULL audit row AND that the BOM was
      stripped (an unstripped BOM would make it 2);
    - `n_gz` is value-checked against the seed-doc count."""
    import gzip
    import os
    import shutil

    from ..sources.warc import (
        SPARK_DIALECT,
        parse_warc,
        read_warc,
        read_warc_gz,
    )

    rec_sql, _ = _warc_seed_sqls(SPARK_DIALECT)
    seed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 6)
        .select("doc_id", F.expr(rec_sql).alias("rec"))
        .orderBy("doc_id")
        .collect()
    )
    recs = [r.rec for r in seed]
    base = os.path.join("spark-warehouse", "warc_reader_contract")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.join(base, "plain"))
    os.makedirs(os.path.join(base, "gz"))
    blobs = {
        "a": "".join(recs[0:3]),
        "b": "".join(recs[3:5]),
        "c": "JUNK-PREAMBLE\r\n" + recs[5],
    }
    with open(os.path.join(base, "plain", "a.warc"), "wb") as f:
        f.write(blobs["a"].encode())
    with open(os.path.join(base, "plain", "b.warc"), "wb") as f:
        f.write(b"\xef\xbb\xbf" + blobs["b"].encode())  # UTF-8 BOM
    with open(os.path.join(base, "plain", "c.warc"), "wb") as f:
        f.write(blobs["c"].encode())
    with open(os.path.join(base, "gz", "d.warc.gz"), "wb") as f:
        for r in recs:  # one gzip member per record, concatenated
            f.write(gzip.compress(r.encode(), mtime=0))

    rd = read_warc(spark, os.path.join(base, "plain"))
    rz = read_warc_gz(spark, os.path.join(base, "gz"))
    blob_df = parse_warc(
        local_frame(
            spark, list(blobs.items()), "warc_file string, warc_blob string"
        )
    )

    def stats(df: DataFrame, pfx: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(f"{pfx}_n"),
            F.expr(_WARC_ROW_FP).alias(f"{pfx}_fp"),
            F.expr("bool_and(coalesce(len_ok, TRUE))").alias(f"{pfx}_lok"),
            F.sum(
                F.when(F.col("warc_type").isNull(), 1).otherwise(0)
            ).cast("long").alias(f"{pfx}_nnull"),
        )

    j = (
        stats(rd, "rd")
        .crossJoin(stats(blob_df, "bl"))
        .crossJoin(stats(rz, "gz"))
    )
    return j.select(
        F.col("rd_n").alias("n_reader"),
        F.col("gz_n").alias("n_gz"),
        (
            (F.col("rd_fp") == F.col("bl_fp"))
            & (F.col("rd_n") == F.col("bl_n"))
            & (F.col("rd_nnull") == F.col("bl_nnull"))
        ).alias("reader_blob_agree"),
        # the blob side carries ONE extra row the clean gz archive
        # doesn't: the preamble audit row, whose signature is the
        # md5 of 7 empty fields joined by 6 pipes — subtract it
        (
            F.col("gz_fp")
            == F.col("bl_fp")
            - F.expr(
                "CAST(conv(substr(md5('||||||'), 1, 8), 16, 10) AS BIGINT)"
            )
        ).alias("gz_blob_agree"),
        (F.col("rd_lok") & F.col("bl_lok") & F.col("gz_lok")).alias(
            "len_ok_all"
        ),
        F.col("rd_nnull").alias("n_null_reader"),
    )


_Z_BITS = 14


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering keys over the event stream — the sort
    key `zorder_write` lays files out by (see SCALE.md: multi-dim scan
    pruning). Pure bitwise arithmetic, exact both engines."""
    from ..operators.skew import z_value

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        z_value("user_id", "event_id", bits=_Z_BITS).alias("z"),
    )


def _zorder_sql() -> str:
    from ..operators.skew import z_value_sql

    return f"""
        SELECT event_id, user_id,
               CAST({z_value_sql("user_id", "event_id", _Z_BITS)} AS BIGINT)
                   AS z
        FROM events
    """


def _warc_sql() -> str:
    """DuckDB replay of q_warc_extract: SAME synthesis template and
    SAME parser expressions via the shared dialect builders
    (`sources/warc.py`) — the two engines literally render one
    format string each."""
    from ..sources.warc import DUCK_DIALECT, _CRLF_RE, parse_warc_exprs

    d = DUCK_DIALECT
    rec, _ = _warc_seed_sqls(d)
    split_pat = d["re"](r"WARC/1\.0" + _CRLF_RE)
    exprs = parse_warc_exprs(d, "rec")
    cols = ",\n               ".join(
        f"CAST({sql} AS BIGINT) AS {name}"
        if name in ("content_length", "http_status")
        else f"{sql} AS {name}"
        for name, sql in exprs.items()
        if name != "payload"
    )
    return f"""
        WITH blobs AS (
            SELECT doc_id // {_WARC_FILE_DOCS} AS warc_file,
                   string_agg({rec}, '' ORDER BY doc_id) AS warc_blob
            FROM documents GROUP BY 1
        ),
        rx AS (
            SELECT warc_file, ord, rec FROM (
                SELECT warc_file,
                       unnest({d["split"]("warc_blob", split_pat)}) AS rec,
                       generate_subscripts(
                           {d["split"]("warc_blob", split_pat)}, 1) AS ord
                FROM blobs
            ) WHERE ord >= 2 OR rec != ''  -- keep a non-empty preamble
                                           -- (all-NULL audit row) like
                                           -- the Spark path
        )
        SELECT CAST(warc_file AS BIGINT) AS warc_file,
               CAST(ord - 2 AS BIGINT) AS rec_seq,
               {cols},
               md5({exprs["payload"]}) AS payload_md5
        FROM rx
    """


ORACLES: dict[str, str] = {
    "q_zorder_values": _zorder_sql(),
    "q_warc_extract": _warc_sql(),
    # contract-check oracle (the q_hyperball_contract pattern): the
    # booleans are pinned TRUE, the counts derive from the seed-doc
    # gate so a fixture change breaks the row instead of silently
    # shrinking the contract
    "q_warc_reader_contract": """
        SELECT CAST(n + 1 AS BIGINT) AS n_reader,
               CAST(n AS BIGINT) AS n_gz,
               TRUE AS reader_blob_agree,
               TRUE AS gz_blob_agree,
               TRUE AS len_ok_all,
               CAST(1 AS BIGINT) AS n_null_reader
        FROM (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 6)
    """,
    "q_xml_roundtrip": """
        SELECT event_id, event_type, ts, value, props, user_id FROM events
    """,
    "q_csv_roundtrip": """
        SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    "q_fixedwidth_roundtrip": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    """,
    "q_jsonl_roundtrip": """
        SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    "q_flatten_projection": """
        SELECT event_id AS c_event_sequence,
               date_trunc('minute', ts) AS e_time_of_event,
               ts AS e_time_of_event_utc,
               ts + INTERVAL 330 MINUTE AS e_time_of_event_local,
               value AS c_value,
               props AS c_props,
               user_id AS a_user_id,
               event_type
        FROM events
    """,
    "q_string_truncation": """
        SELECT event_id,
               substr(props, 1, 8) AS c_props,
               CAST(CASE WHEN length(props) > 8 THEN 1 ELSE 0 END AS BIGINT) AS was_truncated
        FROM events
    """,
    # S13 replay sidesteps BLOB ops entirely: byte-aligned truncation
    # on the hex STRING (2 hex chars per byte) is value-identical to
    # hex(truncate_binary(raw, 24)); Spark's hex() is uppercase
    "q_binary_truncation": """
        SELECT event_id,
               CAST(length(h) // 2 AS BIGINT) AS n_bytes,
               upper(substr(h, 1, 48)) AS c_payload_hex,
               CAST(CASE WHEN length(h) // 2 > 24 THEN 1 ELSE 0 END
                    AS BIGINT) AS was_truncated
        FROM (
            SELECT event_id,
                   repeat(md5(props), CAST(1 + event_id % 3 AS INT)) AS h
            FROM events
        )
    """,
    "q_coercion_nulling": """
        WITH e AS (
            SELECT event_id,
                   ['module_start', 'module_end', 'sql_batch_completed',
                    'rpc_completed', 'wait_info'
                   ][CAST(event_id % 5 AS INT) + 1] AS etype,
                   'SELECT ' || CAST(event_id AS VARCHAR) AS stmt,
                   '{"k":"' || CAST(event_id AS VARCHAR) || '"}' AS pj
            FROM events
        ),
        n AS (
            SELECT etype,
                   CASE WHEN etype IN ('module_start', 'module_end')
                        THEN NULL ELSE stmt END AS stmt,
                   pj
            FROM e
        )
        SELECT etype,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN stmt IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stmt_nulled,
               MIN(stmt) AS min_stmt,
               MAX(stmt) AS max_stmt,
               MIN(pj) AS min_payload_json,
               MAX(pj) AS max_payload_json
        FROM n GROUP BY 1
    """,
    "q_hash_bin_derivation": """
        SELECT event_id,
               user_id AS a_query_hash,
               lpad(upper(to_hex(user_id)), 16, '0') AS a_query_hash_bin_hex
        FROM events
    """,
    "q_callstack_decode": f"""
        SELECT event_id,
               'ln ' || upper({_CS_FRAME1}) || ';' || 'ln ' || upper({_CS_FRAME2})
                   AS a_callstack_debugcmd
        FROM (SELECT event_id, md5(props) AS h FROM events)
    """,
    "q_session_pattern_extract": f"""
        SELECT regexp_extract(regexp_replace({_FNAME_DUCK}, '\\.[^.]*$', ''),
                              '^(.*)_[^_]+_[^_]+$', 1) AS session_prefix,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT {_FNAME_DUCK}) AS n_files
        FROM events
        GROUP BY 1
    """,
    "q_lineage_stamp": f"""
        WITH named AS (SELECT *, {_FNAME_DUCK} AS file_name FROM events),
        lineage AS (
            SELECT file_name,
                   ROW_NUMBER() OVER (ORDER BY file_name) AS file_id
            FROM (SELECT DISTINCT file_name FROM named)
        )
        SELECT l.file_id, n.file_name,
               COUNT(*) AS n_rows,
               MIN(n.event_id) AS min_seq,
               MAX(n.event_id) AS max_seq
        FROM named n JOIN lineage l USING (file_name)
        GROUP BY 1, 2
    """,
    "q_error_budget": f"""
        SELECT {_FNAME_DUCK} AS file_name,
               COUNT(*) AS n_rows,
               CAST(SUM({_IS_ERR}) AS BIGINT) AS n_errors,
               (SUM({_IS_ERR}) >= 100) AS aborted
        FROM events
        GROUP BY 1
    """,
    "q_props_extract": """
        SELECT event_id, event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) AS c_k,
               props AS c_props
        FROM events
    """,
    "q_event_lead_lag": """
        SELECT user_id, event_id, ts,
               CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS BIGINT) AS gap_us,
               LEAD(event_id) OVER w AS next_event_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "q_smalldatetime_round": """
        SELECT event_id,
               date_trunc('minute', ts + INTERVAL '30.002 seconds') AS e_time_of_event_rounded,
               date_trunc('minute', ts) AS e_time_of_event_trunc
        FROM events
    """,
    "q_demux_counts": """
        SELECT event_type,
               COUNT(*) AS n_rows,
               MIN(event_id) AS min_seq,
               MAX(event_id) AS max_seq
        FROM events
        GROUP BY 1
    """,
    "q_run_stats": f"""
        SELECT COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_event_types,
               CAST(SUM({_IS_ERR}) AS BIGINT) AS n_errors,
               CAST(SUM(CASE WHEN length(props) > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts
        FROM events
    """,
}


_BJC_BUCKETS = 8


def q_bucketed_join_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver coverage for the bucketed-layout join lever (S21 layout
    selection; `operators/skew.write_bucketed` was pytest-only — the
    `q_warc_reader_contract` move applied to the scale knob VERDICT
    graded "talked about in SCALE.md"): two projections of `documents`
    are written as managed tables bucketed+sorted on doc_id, read back,
    and sort-merge-joined (hint('merge') so tiny fixture tables can't
    take the broadcast path and render the pin vacuous). Every leg is
    FALSIFIABLE, computed from the live plans and data:

    - `bucketed_zero_exchange`: the co-located join plans ZERO shuffle
      Exchanges — the entire point of bucketing at 100 TB (both sides
      pre-partitioned on the join key at write time, so the join is
      embarrassingly local);
    - `unbucketed_shuffles`: the IDENTICAL join over the raw frames
      plans >= 2 hash-partitioning Exchanges (one per side) — the cost
      the layout removes;
    - `values_agree`: full-row md5-fold fingerprints of both join
      results match (layout changes placement, never values);
    - `n_rows` value-checked against the corpus count."""
    from ..operators.skew import write_bucketed
    from ..plans.inspect import count_exchanges

    import shutil
    from urllib.parse import urlparse

    docs = load_table(spark, sf_dir, "documents")
    left = docs.select("doc_id", "source", "n_chars")
    right = docs.select(
        "doc_id", F.expr("CAST(length(text) AS BIGINT)").alias("text_len")
    )
    # drop table AND location: a fresh session's in-memory catalog does
    # not know tables whose directories a previous session left behind,
    # and saveAsTable refuses to reuse the managed location
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in ("xel_bjc_left", "xel_bjc_right"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    write_bucketed(
        left, "xel_bjc_left", "doc_id", _BJC_BUCKETS, sort_by="doc_id"
    )
    write_bucketed(
        right, "xel_bjc_right", "doc_id", _BJC_BUCKETS, sort_by="doc_id"
    )
    bj = (
        spark.table("xel_bjc_left")
        .hint("merge")
        .join(spark.table("xel_bjc_right"), "doc_id")
    )
    uj = left.hint("merge").join(right, "doc_id")
    zero_exchange = count_exchanges(bj) == 0
    unbucketed_shuffles = count_exchanges(uj) >= 2
    fp = (
        "sum(CAST(conv(substr(md5(concat_ws('|', "
        "CAST(doc_id AS STRING), coalesce(source, ''), "
        "coalesce(CAST(n_chars AS STRING), ''), "
        "coalesce(CAST(text_len AS STRING), ''))), 1, 8), 16, 10) "
        "AS BIGINT))"
    )
    a = bj.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr(fp).alias("_fb"),
    )
    b = uj.agg(F.expr(fp).alias("_fu"))
    return a.crossJoin(b).select(
        "n_rows",
        F.lit(zero_exchange).alias("bucketed_zero_exchange"),
        F.lit(unbucketed_shuffles).alias("unbucketed_shuffles"),
        (F.col("_fb") == F.col("_fu")).alias("values_agree"),
    )


ORACLES["q_bucketed_join_contract"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS bucketed_zero_exchange,
           TRUE AS unbucketed_shuffles,
           TRUE AS values_agree
    FROM documents
"""
