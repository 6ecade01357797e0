"""spark-submit entry point for the encode pipeline (north-rule packaging).

Usage (local sandbox evidence run; on a cluster swap --master / add executors):

    python tools/package.py   # builds dist/hadoop_etl_udfs_spark.zip
    spark-submit --master 'local[8]' \
        --py-files dist/hadoop_etl_udfs_spark.zip \
        jobs/encode_job.py \
        --input /path/to/pages_parquet --output /path/to/out \
        [--synthesize N_DOCS] [--codec auto] [--salt-buckets 8] \
        [--global-dict lang]

Prints one JSON line of lineage metrics. Every run resumes: running the
same job again skips the chunks already complete in the output manifest
(content-addressed ids), so a restart after a crash appends only what is
missing and a re-run after success appends nothing.

Replaces the reference's deployment unit — UDF jars registered in-database
(doc/deployment-guide.md) — with a --py-files zip.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "iceberg"],
                   help="parquet directory, or an Iceberg table read through "
                        "the spec-pure metadata/manifest planner "
                        "(sources/iceberg_lite.py — the north star's input)")
    p.add_argument("--from-snapshot", type=int, default=None,
                   help="iceberg only: encode ONLY rows added after this "
                        "snapshot id (incremental snapshot-diff consumption)")
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate N deterministic docs instead of reading --input")
    p.add_argument("--output", required=True, help="encoded-chunk sink directory")
    p.add_argument("--codec", default="auto")
    p.add_argument(
        "--salt-buckets", default="8",
        help="int fan-out, or 'adaptive' (per-host salt from a histogram)",
    )
    p.add_argument("--global-dict", action="append", default=[],
                   help="column(s) to encode with a broadcast global dictionary")
    p.add_argument("--cluster-by", default=None,
                   help="numeric-domain column whose per-chunk [min,max] is "
                        "stamped on every chunk row (scan-level zone maps)")
    p.add_argument("--bloom-by", action="append", default=[],
                   help="key column(s) stamped with a per-chunk Bloom "
                        "filter (point-lookup pruning; repeatable)")
    p.add_argument("--partition-cols", default=None,
                   help="comma-separated co-location key for NON-pages "
                        "tables (e.g. 'vec_id' for embeddings): shuffles on "
                        "these columns + salt instead of the pages-specific "
                        "url-host layout, so the job encodes ANY table")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()
    if not args.input and not args.synthesize:
        p.error("one of --input or --synthesize is required")
    if args.input_format == "iceberg" and not args.input:
        p.error("--input-format iceberg requires --input (a table path)")
    if args.from_snapshot is not None and args.input_format != "iceberg":
        p.error("--from-snapshot only applies with --input-format iceberg "
                "(a plain parquet input has no snapshots — this flag being "
                "silently ignored would re-encode the full input)")

    from hadoop_etl_udfs_spark.session import get_job_spark

    spark = get_job_spark("encode_job")

    from hadoop_etl_udfs_spark.plans import globaldict, lineage

    if args.synthesize:
        from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, args.synthesize, seed=args.seed)
    elif args.input_format == "iceberg":
        from hadoop_etl_udfs_spark.sources.iceberg_lite import (
            read_iceberg,
            read_iceberg_incremental,
        )

        if args.from_snapshot is not None:
            pages = read_iceberg_incremental(spark, args.input, args.from_snapshot)
        else:
            pages = read_iceberg(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)

    gds = {}
    for col in args.global_dict:
        try:
            # a resumed job MUST reuse the committed dictionary — rebuilding
            # reassigns codes and silently corrupts already-written chunks
            gds[col] = globaldict.load_global_dict(args.output, col)
        except (FileNotFoundError, OSError):
            gds[col] = globaldict.build_global_dict(pages, col)
            globaldict.save_global_dict(gds[col], args.output, col)

    t0 = time.time()
    salt = args.salt_buckets if args.salt_buckets == "adaptive" else int(args.salt_buckets)
    rep = lineage.encode_resumable(
        pages,
        args.output,
        codec=args.codec,
        salt_buckets=salt,
        global_dicts=gds or None,
        cluster_by=args.cluster_by,
        bloom_by=args.bloom_by or None,
        partition_cols=(
            args.partition_cols.split(",") if args.partition_cols else None
        ),
    )
    print(
        json.dumps(
            {
                "wall_s": round(time.time() - t0, 2),
                "chunks": rep["chunks_total"],
                "chunks_skipped": rep["chunks_skipped"],
                "bytes_in": rep["bytes_in"],
                "bytes_out": rep["bytes_out"],
                "ratio": round(rep["bytes_in"] / max(1, rep["bytes_out"]), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
