"""spark-submit entry point for chunk-sink maintenance: surgical DELETE
(takedown) and small-chunk COMPACTION. Completes the packaged triad with
jobs/recluster_job.py (OPTIMIZE) — all three rewrite src -> dst with one
all-or-nothing commit, all three preserve cluster stamps and blooms.

    python tools/package.py   # builds dist/hadoop_etl_udfs_spark.zip
    spark-submit --master 'local[8]' \
        --py-files dist/hadoop_etl_udfs_spark.zip \
        jobs/maintenance_job.py delete \
        --src SINK --dst NEW_SINK --key-column url \
        (--id VALUE ... | --ids-file ids.txt) \
        [--cluster-by warc_ts] [--codec auto] [--partition-by-column] \
        [--schema DDL] [--int-ids]

    spark-submit ... jobs/maintenance_job.py compact \
        --src SINK --dst NEW_SINK --min-rows 4096 \
        [--cluster-by warc_ts] [--codec auto] [--partition-by-column] \
        [--schema DDL]

    spark-submit ... jobs/maintenance_job.py stats --src SINK

delete: removes every row whose key is listed (right-to-be-forgotten /
contaminated-doc purge). Only chunks containing a doomed row re-encode;
on bloomed sinks even the key scan is bloom-pruned. ``--ids-file`` takes
one key per line (utf-8); ``--int-ids`` parses ids as int64 for integer
key columns — the sink's recorded bloom domain rejects a mismatch loud.

compact: merges fragment chunks (n_rows < --min-rows) that small appends
and ingest ticks accrete; victims chosen from manifest metadata only.

stats: scan-free per-column sink statistics from the manifest alone
(plans.lineage.sink_stats) — one JSON line per column; payload bytes are
never read, so this is safe to run against a sink of any size.

The destination must not exist (errorifexists). Prints one JSON line of
the operation's stats plus wall seconds.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--src", required=True, help="existing encoded sink")
    common.add_argument("--dst", required=True, help="output sink (must not exist)")
    common.add_argument("--schema", default=None,
                        help="sink row DDL (default: the pages schema)")
    common.add_argument("--cluster-by", default=None,
                        help="the sink's cluster column (REQUIRED on stamped sinks)")
    common.add_argument("--codec", default="auto")
    common.add_argument("--partition-by-column", action="store_true",
                        help="lay the new sink out as column=<name>/ directories")

    d = sub.add_parser("delete", parents=[common],
                       help="surgical row-level takedown")
    d.add_argument("--key-column", required=True)
    d.add_argument("--id", action="append", default=[], dest="ids",
                   help="key value to delete (repeatable)")
    d.add_argument("--ids-file", default=None,
                   help="file with one key per line (utf-8)")
    d.add_argument("--int-ids", action="store_true",
                   help="parse ids as int64 (integer key columns)")

    c = sub.add_parser("compact", parents=[common],
                       help="merge fragment chunks")
    c.add_argument("--min-rows", type=int, required=True,
                   help="chunks under this row count are merged")

    st = sub.add_parser("stats", help="scan-free manifest statistics")
    st.add_argument("--src", required=True, help="existing encoded sink")

    args = p.parse_args()

    from hadoop_etl_udfs_spark.session import get_job_spark

    spark = get_job_spark("maintenance_job")

    from hadoop_etl_udfs_spark.plans import lineage

    t0 = time.time()
    if args.cmd == "stats":
        for row in lineage.sink_stats(spark, args.src).collect():
            print(json.dumps(row.asDict()))
        print(json.dumps(
            {"op": "stats", "wall_s": round(time.time() - t0, 2)}
        ))
        spark.stop()
        return
    if args.cmd == "delete":
        ids = list(args.ids)
        if args.ids_file:
            with open(args.ids_file, encoding="utf-8") as f:
                # rstrip CR too: a CRLF takedown list would otherwise
                # silently never-match every key (rows_deleted == 0)
                ids.extend(
                    line.rstrip("\r\n") for line in f if line.strip()
                )
        if not ids:
            raise SystemExit("delete: no ids given (--id / --ids-file)")
        if args.int_ids:
            ids = [int(i) for i in ids]
        stats = lineage.delete_from_sink(
            spark, args.src, args.dst, ids,
            key_column=args.key_column, schema=args.schema,
            cluster_by=args.cluster_by, codec=args.codec,
            partition_by_column=args.partition_by_column,
        )
    else:
        stats = lineage.compact_sink(
            spark, args.src, args.dst, args.min_rows,
            schema=args.schema, cluster_by=args.cluster_by,
            codec=args.codec,
            partition_by_column=args.partition_by_column,
        )
    stats["wall_s"] = round(time.time() - t0, 2)
    stats["op"] = args.cmd
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
