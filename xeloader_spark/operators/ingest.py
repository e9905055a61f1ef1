"""The ingest dataflow — SURVEY §2.1 S1-S27 re-expressed Spark-first.

Reference pipeline (XELoader/FileProcessor.cs:81-278): enumerate files →
pattern/session gates → open event stream → one-time schema init → per
event: route to its event-type table, flatten fields+actions+engine
columns, truncate, count errors against a budget → micro-batch bulk-copy
→ lineage insert/update → global statistics.

Spark design (see module functions for per-stage citations):
- the file inventory comes from the listing: `list_event_files` applies
  the S2/S3 gates to file names, and the scan, lineage and incremental
  skip all take its one list; per-file parallelism (S24) is Spark's task
  model; read-ahead (S25) is the columnar reader's own prefetch;
- the whole flatten/transform stage is one declarative projection —
  Catalyst fuses it into a single whole-stage-codegen span over the scan;
- demux (S8) is `partitionBy("event_type")` on write: one logical table
  partitioned by event type rather than N physical tables — at 100 TB
  this is strictly better (partition pruning replaces table routing, and
  small event types don't produce tiny tables);
- micro-batching (S17) is the writer's row-group sizing, not user code;
- lineage (S23) is a broadcast dimension built from the file list;
- the error budget (S26) is a per-file aggregate gate, not a per-row
  try/catch; statistics (S27) come from `observe()` metrics which are
  retry-safe, unlike raw accumulators.

Scale notes: nothing here collects to the driver except the single-row
stats and the per-file error report (O(#files)); every join against
lineage is broadcast.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass, field, replace
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

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
def build_lineage(
    spark: SparkSession, files: list[str], id_offset: int = 0
) -> tuple[list[Row], DataFrame]:
    """Lineage dimension — `dbo.tbl_ImportedXEventFiles`
    (InputParameters.cs:543-558): one row per listed file with a dense
    surrogate `file_id`. The reference uses an IDENTITY column; here the
    id is `id_offset` + the 1-based position in the sorted listing
    (`id_offset` lets incremental runs continue the sequence), which is
    deterministic across retries. Every listed file is registered, also
    one with no rows, as the reference registers every file it opens.
    Returns the rows and the same rows as a JVM-local literal frame
    (`createDataFrame` over Python rows would start Python workers)."""
    rows = []
    for i, f in enumerate(files, 1):
        folder, name = f.rsplit("/", 1)
        rows.append(
            Row(file_id=id_offset + i, file_folder=folder, file_name=name, file_path=f)
        )
    structs = [F.struct(*[F.lit(v).alias(k) for k, v in r.asDict().items()]) for r in rows]
    # one partition: a default-sliced range writes an empty lineage file
    frame = spark.range(1, numPartitions=1).select(F.inline(F.array(*structs)))
    return rows, frame.withColumn("file_id", F.col("file_id").cast("long"))


def stamp_lineage(df: DataFrame, lineage: DataFrame) -> DataFrame:
    """Stamp `e_imported_file_id` on every row (EventHolder.cs:105) via a
    broadcast equi-join on provenance."""
    return df.join(
        F.broadcast(lineage.select("file_id", "file_path")),
        df.e_source_file == F.col("file_path"),
        "left",
    ).drop("file_path").withColumnRenamed("file_id", "e_imported_file_id")


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
    out = out.withColumn(
        "e_is_error",
        (F.col("props").isNotNull() & ~F.col("props").rlike(_VALID_PROPS_RE)).cast(
            "long"
        ),
    )
    props = F.col("props")
    if cfg.bound_widths:
        out = out.withColumn(
            "e_props_truncated", truncation_flag("props", cfg.string_trunc)
        )
        props = truncate_string("props", cfg.string_trunc)
    else:
        out = out.withColumn("e_props_truncated", F.lit(0).cast("long"))
    keep = ["e_imported_file_id"] if "e_imported_file_id" in out.columns else []
    return out.select(
        *keep,
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


def split_by_error_budget(
    df: DataFrame,
    cfg: IngestConfig | None = None,
    file_col: str = "e_source_file",
) -> tuple[DataFrame, DataFrame]:
    """S26 bounded error tolerance (EventHolder.cs:76-96): rows whose
    payload fails validation count as errors; a file whose error count
    reaches the budget is aborted. Returns (good_rows, file_report).

    Deviation (documented): the reference aborts *mid-file*, keeping rows
    loaded before the threshold; a declarative engine has no row order
    within a file, so an aborted file contributes no rows at all — a
    stricter, deterministic contract.
    """
    cfg = cfg or IngestConfig()
    if "e_is_error" in df.columns:
        with_err = df
    else:
        is_error = (
            F.col("c_props").isNotNull() & ~F.col("c_props").rlike(_VALID_PROPS_RE)
        ).cast("long")
        with_err = df.withColumn("e_is_error", is_error)
    per_file = with_err.groupBy(file_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("e_is_error").alias("n_errors"),
    )
    report = per_file.withColumn(
        "aborted", (F.col("n_errors") >= cfg.max_errors_per_file)
    )
    good = (
        with_err.join(
            F.broadcast(report.filter(~F.col("aborted")).select(file_col)),
            file_col,
            "inner",
        )
        .filter(F.col("e_is_error") == 0)
        .drop("e_is_error")
    )
    return good, report


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
    file_id_offset: int = 0,
) -> IngestReport:
    """End-to-end ingest — entry point A of the reference
    (Main → ProcessFiles → ProcessOneFile, SURVEY §3.1), one lazy plan
    over exactly the files `list_event_files` lists:

        scan → lineage stamp → flatten(+truncate) → error gate
        → observe(stats) → demux write

    The only driver-side materialization is the per-file error report
    (O(#files))."""
    cfg = cfg or IngestConfig()
    files = list_event_files(spark, input_path, cfg)
    return _load_files(spark, files, output_path, cfg, file_id_offset)


def _load_files(
    spark: SparkSession,
    files: list[str],
    output_path: str,
    cfg: IngestConfig,
    file_id_offset: int,
) -> IngestReport:
    """`ingest` over an already-decided file list."""
    # S4: read the decoded paths, glob metacharacters escaped because the
    # reader globs every path; `input_file_name()` then yields the listed
    # (percent-encoded) URIs again, the lineage join key
    paths = [re.sub(r"([\[\]{}*?\\])", r"\\\1", unquote(f)) for f in files]
    raw = spark.read.parquet(*paths).withColumn("e_source_file", F.input_file_name())
    lineage_rows, lineage = build_lineage(spark, files, id_offset=file_id_offset)
    stamped = stamp_lineage(raw, lineage)
    flat = flatten_events(stamped, cfg)
    good, file_report = split_by_error_budget(flat, cfg)

    obs = Observation("ingest_stats")
    observed = good.observe(
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
    lineage.write.mode(
        "overwrite" if cfg.write_mode != "append" else "append"
    ).parquet(output_path + "_lineage")

    demux_write(observed, output_path, cfg)

    rep_rows = file_report.collect()

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
    same as the reference's per-file processing loop.

    Cost model: the candidate list is `list_event_files`, a listing that
    starts no Spark job and reads no event row; the lineage table
    (O(#files)) is read and collected to the driver; only the new files'
    events are read. Files whose load ABORTED (error budget) are registered,
    and therefore not retried — matching the reference, which registers
    the file before loading it; delete its lineage row to force a retry.
    The same register-then-load order applies to crashes: `ingest` writes
    the lineage rows before the data, so a file interrupted mid-load shows
    up registered-but-unloaded and is skipped, never double-appended —
    deleting its lineage row is the explicit retry path.
    """
    cfg = cfg or IngestConfig()
    files = list_event_files(spark, input_path, cfg)
    lineage_path = output_path + "_lineage"
    loaded: set[str] = set()
    max_id = 0
    try:
        prev = spark.read.parquet(lineage_path).select("file_path", "file_id")
        rows = prev.collect()
        loaded = {r.file_path for r in rows}
        max_id = max((r.file_id for r in rows), default=0)
    except Exception:  # no lineage yet — first run
        pass
    new_files = [f for f in files if f not in loaded]
    if not new_files:
        return IngestReport()
    inc_cfg = replace(cfg, write_mode="append")  # incremental ⇒ append
    return _load_files(spark, new_files, output_path, inc_cfg, max_id)


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
