"""CLI: run the CVP pipeline over a directory of data files.

    python -m dev_dot_cvp_metadata_ingestion_spark \
        --input /path/to/files --config /path/to/config.ini \
        --output /path/to/tables [--streaming]

The batch form replaces one reference Lambda sweep: parse each NDJSON
line under --input once into a VARIANT record, validate it against the
INI rule schema, run sequential checks, and write validation_results /
sequential_results / file_tallies / file_counts parquet tables under
--output. No pass infers a schema first. --streaming watches --input
as a file-source stream instead (availableNow drain), writing
validation_results_stream/ one ``batch_id=N`` partition per
micro-batch, which a replayed micro-batch overwrites. Either way each
object is read whole into one row, so the largest object must fit in
one task's memory.

Registry access (every operator from COVERAGE.md, same callables the
driver runs):

    python -m dev_dot_cvp_metadata_ingestion_spark list-queries
    python -m dev_dot_cvp_metadata_ingestion_spark query NAME \
        [--sf-dir DIR] [--limit N] [--out PATH] [--explain]
"""

from __future__ import annotations

import argparse
import json
import sys


def _query_main(argv: list[str]) -> int:
    """`query` / `list-queries` subcommands over the registry."""
    from .plans import registry
    from .session import get_spark

    registry.load_all()
    if argv[0] == "list-queries":
        for name in registry.ordered_queries():
            tag = "" if name in registry.ORACLES else "  (no-oracle approx)"
            print(f"{name}{tag}")
        return 0

    p = argparse.ArgumentParser(
        prog="dev_dot_cvp_metadata_ingestion_spark query"
    )
    p.add_argument("name", help="registered query name (see list-queries)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--limit", type=int, default=20,
                   help="rows to print as JSON lines (ignored with --out)")
    p.add_argument("--out", default=None,
                   help="write the FULL result as parquet here instead "
                        "of printing")
    p.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv[1:])

    if args.name not in registry.QUERIES:
        print(f"unknown query {args.name!r}; run list-queries", file=sys.stderr)
        return 2
    spark = get_spark("cvp-query", cores=args.cores)
    try:
        df = registry.QUERIES[args.name](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        elif args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"query": args.name, "out": args.out}))
        else:
            for row in df.limit(args.limit).collect():
                print(json.dumps(row.asDict(), default=str))
    finally:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] in ("query", "list-queries"):
        return _query_main(argv)
    p = argparse.ArgumentParser(prog="dev_dot_cvp_metadata_ingestion_spark")
    p.add_argument("--input", required=True, help="directory of NDJSON data files")
    p.add_argument("--config", required=True, help="INI rule schema path")
    p.add_argument("--output", required=True, help="output directory for tables")
    p.add_argument(
        "--streaming",
        action="store_true",
        help="run as a file-source stream (availableNow) instead of batch",
    )
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("cvp-pipeline", cores=args.cores)
    try:
        return _pipeline_main(spark, args)
    finally:
        spark.stop()


def _pipeline_main(spark, args) -> int:
    from .plans.pipeline import (
        log_progress,
        observe_pipeline,
        run_cv_pipeline,
        write_tables,
    )
    from .sources.rules import load_rules_file

    ruleset = load_rules_file(args.config)

    if args.streaming:
        from .streaming.stream import idempotent_parquet_sink, stream_cv_pipeline

        q = stream_cv_pipeline(
            spark,
            args.input,
            ruleset,
            None,
            idempotent_parquet_sink(f"{args.output}/validation_results_stream"),
            f"{args.output}/_checkpoint",
            available_now=True,
        )
        q.awaitTermination()
        print(
            json.dumps(
                {"mode": "streaming",
                 "output": f"{args.output}/validation_results_stream"}
            )
        )
    else:
        result = run_cv_pipeline(spark, args.input, ruleset)
        result, observations = observe_pipeline(result)
        paths = write_tables(result, args.output)
        result.unpersist()
        progress = log_progress(observations)
        # read back what was written: collecting result.tallies would
        # compute the tallies a second time
        tallies = {
            r["file_path"]: {
                "total": r["num_messages_total"],
                "errors": r["num_errors"],
            }
            for r in spark.read.parquet(paths["file_tallies"]).collect()
        }
        print(
            json.dumps(
                {
                    "mode": "batch",
                    "tables": paths,
                    "files": tallies,
                    "progress": progress["validation"],
                }
            )
        )

    return 0


if __name__ == "__main__":
    sys.exit(main())
