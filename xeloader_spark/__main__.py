"""CLI entry point — the reference's flag surface (SURVEY §2.1 S28,
XELoader/InputParameters.cs:63-301) mapped onto `IngestConfig`, so a
reference user's invocation translates flag-for-flag:

    python -m xeloader_spark -D /data/xe_parquet -o /warehouse/xe \
        -p '*.parquet' -L 1024 -X 4000 -B 1024 -e 100 -z UTC -I ColumnStore -w

Entry point C (`-f` + `-m`, InputParameters.cs:82-85 →
FileProcessor.cs:280-334) is the dual-file load: the event file is the
public XML form and `-m` names the explicit-schema sidecar — the
sidecar, not the data, supplies columns and types
(`sources/xe_xml.read_xml_events_with_xem`).

Differences from the reference, by design: the sink is a path (parquet
demux tables; use the JDBC-parity sink programmatically for SQL Server),
and -t/-b/-R/-X/-B have no effect (Spark owns task parallelism, writer
batching, and read-ahead — see SURVEY S17/S24/S25; the sink stores XML
and binary values whole, and `schema.LayoutConfig` carries those widths
for the SQL Server DDL).
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="xeloader_spark",
        description="Bulk-load event files into demuxed columnar tables (PySpark).",
    )
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("-D", "--directory", help="input directory (entry point A)")
    src.add_argument("-f", "--file", help="single input file (entry point B)")
    ap.add_argument("-m", "--xem", default=None,
                    help="explicit-schema sidecar for -f (entry point C, "
                         "InputParameters.cs:82-85 / ProcessXELwithXEM): the "
                         "event file is XML (the public decoded form) and "
                         "the sidecar — not the data — supplies the column "
                         "inventory and types")
    ap.add_argument("-o", "--output", required=True, help="output path (demux root)")
    ap.add_argument("-p", "--pattern", default="*.parquet", help="file wildcard (-p)")
    ap.add_argument("--no-session-filter", action="store_true",
                    help="disable the S3 session-prefix gate")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("-w", dest="mode", action="store_const", const="overwrite",
                      help="wipe & reload (reference -w)")
    mode.add_argument("-c", dest="mode", action="store_const", const="truncate",
                      help="replace arriving event types (reference -c)")
    mode.add_argument("-a", dest="mode", action="store_const", const="append",
                      help="append (reference -a, default)")
    ap.add_argument("-L", type=int, default=1024, help="string truncation chars")
    ap.add_argument("-X", type=int, default=4000,
                    help="accepted for parity; XML values are stored whole")
    ap.add_argument("-B", type=int, default=1024,
                    help="accepted for parity; binary values are stored whole")
    ap.add_argument("-e", type=int, default=100, help="error budget per file")
    ap.add_argument("-z", default="UTC",
                    help="timezone for local-time column — Windows ID "
                         "(reference convention) or IANA id, see "
                         "functions/windows_tz.py")
    ap.add_argument("-I", default="ColumnStore", choices=["ColumnStore", "RowStore"],
                    help="physical layout")
    ap.add_argument("-t", type=int, default=None,
                    help="accepted for parity; Spark schedules tasks itself")
    ap.add_argument("-b", type=int, default=None,
                    help="accepted for parity; parquet row-groups are writer-sized")
    ap.add_argument("--incremental", action="store_true",
                    help="skip files already in the lineage table (idempotent re-run)")
    ap.add_argument("--format", dest="storage_format", default="parquet",
                    choices=["parquet", "orc", "csv", "json"],
                    help="sink storage format (beyond the reference's "
                         "SQL-Server-only target)")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from .functions.windows_tz import to_iana
    from .operators.ingest import IngestConfig, ingest, ingest_incremental
    from .session import get_spark

    cfg = IngestConfig(
        file_pattern=args.pattern,
        session_filter=not args.no_session_filter,
        timezone=to_iana(args.z),
        string_trunc=args.L,
        max_errors_per_file=args.e,
        write_mode=args.mode or "append",
        layout=args.I.lower(),
        storage_format=args.storage_format,
    )
    spark = get_spark(app_name="xeloader-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.xem:
        # entry point C (FileProcessor.cs:280-334): dual-file load — the
        # XML event file plus the sidecar-declared schema, no inference
        if not args.file:
            print("error: -m requires -f (the XML event file)", file=sys.stderr)
            return 2
        from pyspark.sql import functions as F

        from .operators.ingest import demux_write
        from .sources.xe_xml import read_xml_events_with_xem

        # the -p default targets the parquet entry points; the XML
        # dual-file path reads *.xml unless the user overrode -p
        pattern = "*.xml" if args.pattern == "*.parquet" else args.pattern
        # persist: the demux write and the summary aggregate both
        # consume the parsed frame — without it every XML file is read
        # and parsed twice (r13, ADVICE r12 #4)
        flat = read_xml_events_with_xem(
            spark, args.file, args.xem, pattern=pattern
        ).persist()
        try:
            # rows whose <event> failed the structural parse (NULL
            # event_type) are ERRORS, not data: they are counted below
            # and EXCLUDED from the demux output (the parquet entry
            # points' -e budget applies the same reported-not-loaded
            # rule; ADVICE r12 #4)
            demux_write(
                flat.filter("event_type IS NOT NULL")
                .drop("e_source_file"),
                args.output,
                cfg,
            )
            # real counts from the loaded frame (a -f DIRECTORY globs
            # many files): n_files = distinct sources actually read,
            # n_errors = the structural-parse failures (the only error
            # class this path has; truncation flags do not apply to
            # the sidecar-typed XML load and are intentionally ignored)
            counts = flat.agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("e_source_file").alias("n_files"),
                F.count_distinct("event_type").alias("event_types"),
                F.sum(
                    F.expr("CAST(event_type IS NULL AS INT)")
                ).alias("n_errors"),
            ).first()
        finally:
            flat.unpersist()
        print(json.dumps({
            "n_files": counts["n_files"],
            "n_files_aborted": 0,
            "n_events": counts["n_events"],
            "n_errors": int(counts["n_errors"] or 0),
            "event_types": counts["event_types"],
        }))
        return 0
    run = ingest_incremental if args.incremental else ingest
    report = run(spark, args.directory or args.file, args.output, cfg)
    print(json.dumps(report.as_dict()))
    return 0 if report.n_files_aborted == 0 else 2


if __name__ == "__main__":
    sys.exit(main())
