"""The ingest dataflow — SURVEY §2.1 S1-S27 re-expressed Spark-first.

Reference pipeline (XELoader/FileProcessor.cs:81-278): enumerate files →
pattern/session gates → open event stream → one-time schema init → per
event: route to its event-type table, flatten fields+actions+engine
columns, truncate, count errors against a budget → micro-batch bulk-copy
→ lineage insert/update → global statistics.

Spark design (see module functions for per-stage citations):
- the file inventory comes from the listing: `list_event_files` applies
  the S2/S3 gates to file names, and the scan, lineage and incremental
  skip all take its one list; the scan's schema is declared from the
  footer of the file Spark's inference would read
  (`catalog.footer_schema`), so no inference job runs; per-file
  parallelism (S24) is Spark's task model; read-ahead (S25) is the
  columnar reader's own prefetch;
- the whole flatten/transform stage is one declarative projection —
  Catalyst fuses it into a single whole-stage-codegen span over the scan;
- demux (S8) is `partitionBy("event_type")` on write: one logical table
  partitioned by event type rather than N physical tables — at 100 TB
  this is strictly better (partition pruning replaces table routing, and
  small event types don't produce tiny tables);
- micro-batching (S17) is the writer's row-group sizing, not user code;
- lineage (S23) is a broadcast dimension built from the file list; its
  ids continue the store's registered ones on every append and truncate
  (both keep stored rows, whose ids must keep naming their files);
- the error budget (S26) is a per-file report collected first, from a
  scan of the file path and `props` only, and then a literal gate on the
  write (error rows and the collected list of aborted files out), not a
  per-row try/catch; the write is the only full read of the input;
  statistics (S27) come from `observe()` metrics which are retry-safe,
  unlike raw accumulators.

Scale notes: nothing here collects to the driver except the single-row
stats, the lineage table and the per-file error report (all O(#files));
every join against lineage is broadcast.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass, field, replace
from urllib.parse import unquote

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import footer_schema
from ..functions.timeutil import three_timestamp_projection
from ..functions.truncation import truncate_string, truncation_flag


@dataclass
class IngestConfig:
    """Engine configuration — the reference's 27 CLI flags
    (InputParameters.cs:63-301) reduced to the ones that change dataflow
    semantics. Defaults mirror the reference's defaults."""

    file_pattern: str = "*.parquet"  # -p wildcard (FileProcessor.cs:150-155)
    session_filter: bool = True  # S3 session-prefix gate (FileProcessor.cs:99-110)
    timezone: str = "UTC"  # -z (InputParameters.cs:274-295)
    bound_widths: bool = False  # layout can't hold LOBs (EventMetadata.cs:355-397)
    string_trunc: int = 1024  # -L (InputParameters.cs:45)
    max_errors_per_file: int = 100  # -e (InputParameters.cs:49)
    write_mode: str = "append"  # -a/-c/-w ↔ append/truncate/overwrite (S19)
    layout: str = "columnstore"  # -I (EventMetadata.cs:203-244)
    storage_format: str = "parquet"  # sink format: parquet | orc | csv | json


# --------------------------------------------------------------------- S3
_SESSION_RE = re.compile(r"^(.*)_[^_]+_[^_]+$")


def get_leading_file_pattern(file_name: str) -> str:
    """Derive the XE session prefix from `Session_Partition_Timestamp.ext`
    by stripping the last two `_` segments — GetLeadingFilePattern
    (XELoader/FileProcessor.cs:336-378). Falls back to the whole base name
    when there are fewer than two separators (FileProcessor.cs:341-349)."""
    base = os.path.basename(file_name)
    stem = base.rsplit(".", 1)[0]
    m = _SESSION_RE.match(stem)
    return (m.group(1) if m else stem) + "*"


def wildcard_to_regex(pattern: str) -> str:
    """`*`/`?` wildcard → anchored case-insensitive regex — the S2 gate
    (XELoader/FileProcessor.cs:150-155)."""
    return "(?i)^" + re.escape(pattern).replace("\\*", ".*").replace("\\?", ".") + "$"


# -------------------------------------------------------------- S1/S2/S3
def list_event_files(
    spark: SparkSession,
    input_path: str | list[str],
    cfg: IngestConfig | None = None,
) -> list[str]:
    """S1 directory scan + S2 wildcard gate + S3 session gate, decided
    from the listing before any file is opened, as the reference does
    (FileProcessor.cs:99-110, :148-174). The `binaryFile` source has a
    fixed schema, so its listing starts no Spark job. S3: the reference
    keeps the session of the *first* file in directory order
    (order-dependent); here the majority session wins, ties broken
    lexicographically. Returns the sorted URIs, the exact strings
    `input_file_name()` yields for these files (percent-encoded)."""
    cfg = cfg or IngestConfig()
    paths = [input_path] if isinstance(input_path, str) else list(input_path)
    files = sorted(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", cfg.file_pattern)
        .load(*paths)
        .inputFiles()
    )
    if not cfg.session_filter or not files:
        return files
    names = {f: unquote(f.rsplit("/", 1)[-1]) for f in files}
    counts = Counter(get_leading_file_pattern(n) for n in names.values())
    session = min(counts, key=lambda p: (-counts[p], p))
    rx = re.compile(wildcard_to_regex(session))
    return [f for f in files if rx.match(names[f])]


# --------------------------------------------------------------------- S23
# the `<store>_lineage` table; declared, so reading it infers nothing
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.LongType()),
        T.StructField("file_folder", T.StringType()),
        T.StructField("file_name", T.StringType()),
        T.StructField("file_path", T.StringType()),
    ]
)


def build_lineage(
    spark: SparkSession, files: list[str], id_offset: int = 0
) -> tuple[list[Row], DataFrame]:
    """Lineage dimension — `dbo.tbl_ImportedXEventFiles`
    (InputParameters.cs:543-558): one row per listed file with a dense
    surrogate `file_id`. The reference uses an IDENTITY column; here the
    id is `id_offset` + the 1-based position in the sorted listing
    (`id_offset` is the store's largest registered id on an append or a
    truncate, so the sequence continues), which is deterministic across
    retries. Every listed file is registered, also one with no rows, as
    the reference registers every file it opens. Returns the rows and the
    same rows as a JVM-local literal frame with `LINEAGE_SCHEMA`
    (`createDataFrame` over Python rows would start Python workers)."""
    rows = []
    for i, f in enumerate(files, 1):
        folder, name = f.rsplit("/", 1)
        rows.append(
            Row(file_id=id_offset + i, file_folder=folder, file_name=name, file_path=f)
        )
    structs = [
        F.struct(*[F.lit(r[c.name]).cast(c.dataType).alias(c.name) for c in LINEAGE_SCHEMA])
        for r in rows
    ]
    # one partition: a default-sliced range writes an empty lineage file
    frame = spark.range(1, numPartitions=1).select(F.inline(F.array(*structs)))
    return rows, frame


def registered_files(spark: SparkSession, output_path: str) -> tuple[set[str], int]:
    """The files the store's lineage registers, and its largest `file_id`
    (0 when none). The lineage is read with `LINEAGE_SCHEMA`, so no
    schema-inference job runs, and collected (O(#files)). Only a missing
    lineage means a first load: any other read failure raises, because a
    damaged lineage read as empty would reload every file and restart the
    ids."""
    try:
        prev = spark.read.schema(LINEAGE_SCHEMA).parquet(output_path + "_lineage")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return set(), 0
    rows = prev.select("file_path", "file_id").collect()
    return {r.file_path for r in rows}, max((r.file_id for r in rows), default=0)


def stamp_lineage(df: DataFrame, lineage: DataFrame) -> DataFrame:
    """Stamp `e_imported_file_id` on every row (EventHolder.cs:105) via a
    broadcast equi-join on provenance; `e_source_file` and
    `e_imported_file_id` lead the columns."""
    ids = lineage.select(
        F.col("file_path").alias("e_source_file"),
        F.col("file_id").alias("e_imported_file_id"),
    )
    rest = [c for c in df.columns if c != "e_source_file"]
    return df.join(F.broadcast(ids), "e_source_file", "left").select(
        "e_source_file", "e_imported_file_id", *rest
    )


# ----------------------------------------------------------------- S9/S10/S11
def flatten_events(df: DataFrame, cfg: IngestConfig | None = None) -> DataFrame:
    """S9 row projection to the flat c_/a_/e_ model + S10 three-timestamp
    projection + S11 width bounding (when the layout requires it).

    Fixture mapping (FIXTURES.md): event_id ↔ c_event_sequence, ts ↔
    e_time_of_event_utc, user_id ↔ an `a_` action, value/props ↔ `c_`
    fields. One declarative select — Catalyst fuses it with the scan.
    """
    cfg = cfg or IngestConfig()
    out = three_timestamp_projection(df, ts_col="ts", tz=cfg.timezone)
    # Error detection happens on the RAW payload, before truncation — the
    # reference counts errors at extraction time (EventHolder.cs:76-96) and
    # truncates only at store time (EventHolder.cs:273-293).
    out = out.withColumn("e_is_error", payload_error("props"))
    props = F.col("props")
    if cfg.bound_widths:
        out = out.withColumn(
            "e_props_truncated", truncation_flag("props", cfg.string_trunc)
        )
        props = truncate_string("props", cfg.string_trunc)
    else:
        out = out.withColumn("e_props_truncated", F.lit(0).cast("long"))
    return out.select(
        "e_time_of_event",
        "e_time_of_event_utc",
        "e_time_of_event_local",
        "e_props_truncated",
        "e_is_error",
        F.col("event_id").alias("c_event_sequence"),
        F.col("value").alias("c_value"),
        props.alias("c_props"),
        F.col("user_id").alias("a_user_id"),
        "event_type",
        *( ["e_source_file"] if "e_source_file" in out.columns else [] ),
    )


# --------------------------------------------------------------------- S26
_VALID_PROPS_RE = r"^\{.*\}$"


def payload_error(col: str) -> Column:
    """1 when the payload column `col` is present but not a JSON object,
    else 0: the one per-row error rule of S26 (EventHolder.cs:76-96)."""
    c = F.col(col)
    return (c.isNotNull() & ~c.rlike(_VALID_PROPS_RE)).cast("long")


def split_by_error_budget(
    df: DataFrame,
    cfg: IngestConfig | None = None,
    file_col: str = "e_source_file",
) -> tuple[DataFrame, list[Row]]:
    """S26 bounded error tolerance (EventHolder.cs:76-96): rows whose
    payload fails validation (`e_is_error`, else `payload_error` of
    `c_props`) count as errors; a file whose error count reaches the
    budget is aborted. Returns (good_rows, report_rows).

    The per-file report (`file_col`, `n_rows`, `n_errors`, `aborted`;
    O(#files) rows) is collected first. It reads only the file column and
    the error flag, so over a file scan Catalyst prunes its read to those
    columns. The good rows are then `df` under a literal gate (no error,
    file not in the collected aborted list): a plan with no aggregate,
    shuffle or broadcast of its own.

    Deviation (documented): the reference aborts *mid-file*, keeping rows
    loaded before the threshold; a declarative engine has no row order
    within a file, so an aborted file contributes no rows at all — a
    stricter, deterministic contract.
    """
    cfg = cfg or IngestConfig()
    if "e_is_error" not in df.columns:
        df = df.withColumn("e_is_error", payload_error("c_props"))
    report = (
        df.groupBy(file_col)
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("e_is_error").alias("n_errors"))
        .withColumn("aborted", F.col("n_errors") >= cfg.max_errors_per_file)
        .collect()
    )
    keep = F.col("e_is_error") == 0
    aborted = [r[file_col] for r in report if r.aborted]
    if aborted:
        keep &= ~F.col(file_col).isin(aborted)
    return df.filter(keep).drop("e_is_error"), report


# ------------------------------------------------------------- S8/S17-S21
def demux_write(
    df: DataFrame,
    output_path: str,
    cfg: IngestConfig | None = None,
) -> None:
    """S8 demultiplex + S17-S21 sink.

    - demux: `partitionBy("event_type")` — the table-per-event-type model
      (EventMetadata.cs:84) as partition pruning instead of N tables;
    - write modes (S19): 'overwrite' ↔ `-w` wipe, 'truncate' ↔ `-c`
      (replace only arriving event types: dynamic partition overwrite),
      'append' ↔ `-a`;
    - layout (S21): 'rowstore' sorts within partitions by
      `c_event_sequence` (the reference's clustered-index analog — makes
      parquet row-group min/max statistics selective on the sequence key);
      'columnstore' is plain parquet (already columnar + compressed);
    - micro-batching (S17): parquet row-group sizing, handled by the
      writer — the reference's 1M-row flush is a columnstore-rowgroup
      tuning that parquet performs internally.
    - format (`cfg.storage_format`): parquet (default) / orc for columnar
      sinks, csv / json for flat interchange — all through the same
      demux + write-mode matrix (readback equality pinned by tests).
    """
    cfg = cfg or IngestConfig()
    out = df
    if cfg.layout == "rowstore":
        out = out.sortWithinPartitions("event_type", "c_event_sequence")
    fmt = cfg.storage_format
    if fmt not in ("parquet", "orc", "csv", "json"):
        raise ValueError(f"unknown storage_format {fmt!r}")
    writer = out.write.partitionBy("event_type").format(fmt)
    if fmt in ("csv", "json"):
        # text formats default to millisecond timestamps; write explicit
        # micro precision so a readback with the same schema/options is
        # lossless for the flat columns
        writer = writer.option(
            "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
        )
    if fmt == "csv":
        writer = writer.option("header", "true")
    if cfg.write_mode == "overwrite":
        writer.mode("overwrite").save(output_path)
    elif cfg.write_mode == "truncate":
        spark = df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            writer.mode("overwrite").save(output_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    elif cfg.write_mode == "append":
        writer.mode("append").save(output_path)
    else:
        raise ValueError(f"unknown write_mode {cfg.write_mode!r}")


# --------------------------------------------------------------------- S27
@dataclass
class IngestReport:
    """Run statistics — TrackStatus counters (TrackStatus.cs:16-63) minus
    the reference's merge quirk (FileProcessor.cs:242, per SURVEY §2.1 S27
    we do not replicate it)."""

    n_files: int = 0
    n_files_aborted: int = 0
    n_events: int = 0
    n_errors: int = 0
    n_truncated: int = 0
    event_types: int = 0
    lineage: list = field(default_factory=list)

    def as_dict(self) -> dict:
        return {
            "n_files": self.n_files,
            "n_files_aborted": self.n_files_aborted,
            "n_events": self.n_events,
            "n_errors": self.n_errors,
            "n_truncated": self.n_truncated,
            "event_types": self.event_types,
        }


def ingest(
    spark: SparkSession,
    input_path: str | list[str],
    output_path: str,
    cfg: IngestConfig | None = None,
) -> IngestReport:
    """End-to-end ingest — entry point A of the reference
    (Main → ProcessFiles → ProcessOneFile, SURVEY §3.1), over exactly the
    files `list_event_files` lists:

        scan(file, props) → per-file error report, collected
        → lineage write
        → scan → flatten(+truncate) → literal error gate → lineage stamp
        → observe(stats) → demux write

    Cost model: the listing starts no job; the event schema comes from a
    file footer read on the driver, no job; an append or a truncate reads
    the store's lineage (O(#files)) to continue its ids; the error report
    is one column-pruned scan collected to the driver (O(#files)); the
    write is the only full read of the input, and its plan has no
    aggregate and no shuffle."""
    return _load(spark, input_path, output_path, cfg or IngestConfig(), False)


def ingest_incremental(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    cfg: IngestConfig | None = None,
) -> IngestReport:
    """Idempotent incremental load — the tracking table's real job (S23):
    the reference registers every file in `tbl_ImportedXEventFiles` so an
    operator can see what's loaded; here that registry actively GATES the
    next run. Files already present in the lineage table are skipped, so
    re-running on a growing directory (or after a crash) loads exactly
    the new files and nothing twice — restart granularity is the file,
    same as the reference's per-file processing loop. Always an append.

    Cost model: that of `ingest`'s append over the new files only. The
    candidate list is `list_event_files`, a listing that starts no Spark
    job and reads no event row; the lineage table (O(#files)) is read
    with its declared schema and collected, one job; with no new file
    that is the whole run. Files whose load ABORTED (error budget) are
    registered, and therefore not retried — matching the reference, which
    registers the file before loading it; delete its lineage row to force
    a retry. The same register-then-load order applies to crashes:
    `ingest` writes the lineage rows before the data, so a file
    interrupted mid-load shows up registered-but-unloaded and is skipped,
    never double-appended — deleting its lineage row is the explicit
    retry path. A lineage that exists but cannot be read raises.
    """
    cfg = replace(cfg or IngestConfig(), write_mode="append")
    return _load(spark, input_path, output_path, cfg, True)


def _load(
    spark: SparkSession,
    input_path: str | list[str],
    output_path: str,
    cfg: IngestConfig,
    skip_registered: bool,
) -> IngestReport:
    """The one load path of `ingest` and `ingest_incremental`: they
    differ only in whether registered files are skipped."""
    files = list_event_files(spark, input_path, cfg)
    # append and truncate keep stored rows, whose lineage rows must stay
    keeps_rows = cfg.write_mode != "overwrite"
    loaded, max_id = set(), 0
    if keeps_rows:
        loaded, max_id = registered_files(spark, output_path)
    if skip_registered:
        files = [f for f in files if f not in loaded]
        if not files:
            return IngestReport()
    # S4: read the decoded paths, glob metacharacters escaped because the
    # reader globs every path; `input_file_name()` then yields the listed
    # (percent-encoded) URIs again, the lineage join key
    paths = [re.sub(r"([\[\]{}*?\\])", r"\\\1", unquote(f)) for f in files]
    # Spark's (non-merging) inference reads the first file by decoded
    # path; its footer, read on the driver, declares the same schema
    schema = footer_schema(spark, min(map(unquote, files)).removeprefix("file:"))
    reader = spark.read if schema is None else spark.read.schema(schema)
    raw = reader.parquet(*paths).withColumn("e_source_file", F.input_file_name())
    good, rep_rows = split_by_error_budget(flatten_events(raw, cfg), cfg)
    lineage_rows, lineage = build_lineage(spark, files, id_offset=max_id)

    obs = Observation("ingest_stats")
    observed = stamp_lineage(good, lineage).observe(
        obs,
        F.count(F.lit(1)).alias("n_events"),
        F.sum("e_props_truncated").alias("n_truncated"),
        F.approx_count_distinct("event_type").alias("event_types"),
    )

    # Register-then-load (the reference inserts the tbl_ImportedXEventFiles
    # row before loading the file): the lineage table is written BEFORE the
    # data so a crash mid-ingest leaves files registered-but-unloaded —
    # `ingest_incremental` then skips them rather than appending the same
    # events twice. Recovery from that state is explicit (delete the
    # lineage rows to force a retry), matching the reference's handling of
    # aborted files. The failure mode is "missing until retried", never
    # "silently duplicated".
    lineage.write.mode("append" if keeps_rows else "overwrite").parquet(
        output_path + "_lineage"
    )

    demux_write(observed, output_path, cfg)

    metrics = obs.get
    return IngestReport(
        n_files=len(lineage_rows),
        n_files_aborted=sum(1 for r in rep_rows if r.aborted),
        n_events=metrics.get("n_events", 0) or 0,
        n_errors=int(sum(r.n_errors for r in rep_rows)),
        n_truncated=int(metrics.get("n_truncated") or 0),
        event_types=int(metrics.get("event_types") or 0),
        lineage=lineage_rows,
    )


def compact_output(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    target_rows_per_file: int = 1_048_576,
) -> int:
    """Small-file compaction for a demuxed output directory — S17's ideal
    1M-row columnstore rowgroup (EventHolder.cs:70, README.md:31) applied
    in reverse. Streaming appends and incremental loads fragment the
    event_type partitions into many tiny files; tiny files mean tiny
    row-groups, which forfeit columnstore compression and scan
    efficiency — the same degradation the reference's batching exists to
    avoid on SQL Server.

    One range-partitioned rewrite: `repartitionByRange(event_type, id)`
    keeps each output file inside one event_type partition (no
    cross-partition salad) at ~target rows. Row count is conserved (the
    rewrite is a straight copy); returns the file count written. Compacts
    into a NEW directory — an in-place rewrite of a path being read is
    not atomic in Spark; swap directories (or partitions) at the catalog
    layer."""
    df = spark.read.parquet(input_path)
    total = df.count()
    n_files = max(1, -(-total // target_rows_per_file))
    (
        df.repartitionByRange(n_files, "event_type", "c_event_sequence")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(output_path)
    )
    return n_files
