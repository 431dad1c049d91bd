"""CLI entry point — drop-in analogue of the reference's loader binary,
plus a query runner over the declared library.

Reference usage (``README.md:40-63``, flags at ``main.go:40-50``)::

    ./loader -file test-loader.xml -model MistAMS -table SFLW_RECS

Engine usage::

    python -m data_ingestor_spark.cli load --file records.json --table out_dir \\
        [--csv out.csv] [--excel out.xlsx] [--json out.json] \\
        [--archive-dir archive/] [--config config.yaml]

    python -m data_ingestor_spark.cli stream --input-dir feeds/ --table out_dir \\
        [--format json|xml|csv] [--row-tag Record] [--archive-dir archive/] \\
        [--deadletter-dir poison/] [--checkpoint-dir ckpt/] [--timeout 300] \\
        [--config config.yaml]

    python -m data_ingestor_spark.cli query q_tpch_q1 \\
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--out dir_or_.csv]

    python -m data_ingestor_spark.cli list            # registered queries

For backwards compatibility, invoking with ``--file`` as the first flag
(no subcommand) behaves as ``load``. ``--table`` is a directory for the
atomic parquet publish (a database target goes through the library's
``sinks.publish_jdbc_atomic``, not the CLI); ``--config`` holds
SparkSession settings only; ``--model`` is accepted for flag parity —
like the reference, it only labels logs (``fileloader-schema.go:137``:
carried for logging, no dispatch).
"""

from __future__ import annotations

import argparse
import sys


def _add_load_args(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--file", required=True, help="input file (.json or .xml)")
    ap.add_argument("--table", required=True, help="target directory for the atomic parquet publish")
    ap.add_argument("--model", default="MistAMS", help="model label (logging only, like the reference)")
    ap.add_argument("--csv", default=None, help="optional CSV export path")
    ap.add_argument("--excel", default=None, help="optional Excel export path")
    ap.add_argument("--json", default=None, help="optional JSON export path")
    ap.add_argument("--archive-dir", default=None, help="archive the input here after load")
    ap.add_argument("--config", default=None, help="engine config YAML (SparkSession settings)")


def _run_load(args: argparse.Namespace) -> int:
    from data_ingestor_spark.pipeline import run_load_job
    from data_ingestor_spark.session import EngineConfig, get_session

    spark = get_session(EngineConfig.load(args.config))
    res = run_load_job(
        spark,
        args.file,
        target_dir=args.table,
        csv_out=args.csv,
        excel_out=args.excel,
        json_out=args.json,
        archive_dir=args.archive_dir,
    )
    print(f"[{args.model}] {res.report()}")
    return 0


def _run_stream(args: argparse.Namespace) -> int:
    from data_ingestor_spark.pipeline import run_stream_job
    from data_ingestor_spark.session import EngineConfig, get_session

    spark = get_session(EngineConfig.load(args.config))
    res = run_stream_job(
        spark,
        args.input_dir,
        target_dir=args.table,
        fmt=args.format,
        row_tag=args.row_tag,
        archive_dir=args.archive_dir,
        deadletter_dir=args.deadletter_dir,
        checkpoint_dir=args.checkpoint_dir,
        timeout_s=args.timeout,
    )
    print(f"[{args.model}] {res.report()}")
    return 0


def _run_query(args: argparse.Namespace) -> int:
    from data_ingestor_spark.plans.queries import REGISTRY
    from data_ingestor_spark.session import EngineConfig, get_session

    spec = REGISTRY.get(args.name)
    if spec is None:
        print(f"unknown query {args.name!r}; `list` shows the registry", file=sys.stderr)
        return 2
    spark = get_session(EngineConfig.load(args.config))
    df = spec.fn(spark, args.sf_dir)
    if args.out:
        if args.out.endswith(".csv"):
            from data_ingestor_spark.sinks import export_csv

            export_csv(df, args.out, single_file=True)
        else:
            df.write.mode("overwrite").parquet(args.out)
        print(f"{args.name}: written to {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _run_list() -> int:
    from data_ingestor_spark.plans.queries import REGISTRY

    for name, spec in REGISTRY.items():
        kind = "oracle" if spec.oracle else "rows-only"
        tags = ",".join(spec.tags)
        print(f"{name:32s} {kind:9s} {tags}")
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # Back-compat: bare flag form == `load` (the reference's only mode).
    # --help/-h stays top-level so the subcommands remain discoverable.
    if argv and argv[0].startswith("-") and argv[0] not in ("-h", "--help"):
        argv = ["load", *argv]

    ap = argparse.ArgumentParser(
        prog="data-ingestor-spark",
        description="Load nested record files / run declared queries",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    load_ap = sub.add_parser("load", help="ingest a nested XML/JSON record file")
    _add_load_args(load_ap)

    s_ap = sub.add_parser(
        "stream",
        help="drain a watch directory through the streaming lifecycle "
        "(exactly-once publish, quarantine, dead-letter)",
    )
    s_ap.add_argument("--input-dir", required=True, help="directory to watch/drain")
    s_ap.add_argument("--table", required=True, help="target dir (data/ + quarantine/ inside)")
    s_ap.add_argument("--format", default="json", choices=["json", "xml", "csv"])
    s_ap.add_argument("--row-tag", default="Record", help="XML row tag")
    s_ap.add_argument("--model", default="MistAMS", help="model label (logging only)")
    s_ap.add_argument("--archive-dir", default=None, help="archive processed inputs here")
    s_ap.add_argument("--deadletter-dir", default=None, help="route undecodable files here")
    s_ap.add_argument("--checkpoint-dir", default=None, help="override checkpoint location")
    s_ap.add_argument("--timeout", type=float, default=300.0, help="drain timeout seconds")
    s_ap.add_argument("--config", default=None, help="engine config YAML")

    q_ap = sub.add_parser("query", help="run a registered query by name")
    q_ap.add_argument("name", help="query key (see `list`)")
    q_ap.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="testdata scale dir")
    q_ap.add_argument("--limit", type=int, default=20, help="rows to show (no --out)")
    q_ap.add_argument("--out", default=None, help="write result: parquet dir or *.csv file")
    q_ap.add_argument("--config", default=None, help="engine config YAML")

    sub.add_parser("list", help="list registered queries")

    args = ap.parse_args(argv)
    if args.cmd == "load":
        return _run_load(args)
    if args.cmd == "stream":
        return _run_stream(args)
    if args.cmd == "query":
        return _run_query(args)
    return _run_list()


if __name__ == "__main__":
    sys.exit(main())
