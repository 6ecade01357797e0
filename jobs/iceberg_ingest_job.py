"""spark-submit entry point for the Iceberg → chunk-sink ingestion tick.

    spark-submit --master 'local[8]' \
        --py-files dist/hadoop_etl_udfs_spark.zip \
        jobs/iceberg_ingest_job.py --table /path/tbl --sink /path/sink \
        [--cluster-by warc_ts] [--salt-buckets 8|adaptive] [--codec auto]

One invocation = one tick: encode-append exactly the snapshot diff since
the sink's watermark (noop when the table hasn't moved). Run it from cron /
an external scheduler; ticks are at-least-once safe — a tick that died
mid-way replays and the content-addressed skip-set keeps the sink
exactly-once (see plans/lineage.iceberg_ingest_tick).
Prints one JSON line describing what the tick did.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--table", required=True, help="Iceberg table directory")
    p.add_argument("--sink", required=True, help="encoded-chunk sink directory")
    p.add_argument("--codec", default="auto")
    p.add_argument("--salt-buckets", default="8",
                   help="int fan-out, or 'adaptive'")
    p.add_argument("--cluster-by", default=None)
    p.add_argument("--partition-cols", default=None,
                   help="comma-separated co-location key for NON-pages "
                        "tables (e.g. 'vec_id'): the tick then ingests any "
                        "Iceberg table, not just the pages layout")
    args = p.parse_args()

    sys.path.insert(0, ".")
    # get_job_spark pins the Arrow batch size (= chunk size) so a cron tick
    # and a batch encode_job chunk identical input identically — identical
    # content-addressed chunk ids, full resume-skip overlap (r4 item 3)
    from hadoop_etl_udfs_spark.session import get_job_spark

    spark = get_job_spark("iceberg_ingest")
    from hadoop_etl_udfs_spark.plans.lineage import iceberg_ingest_tick

    salt = (
        args.salt_buckets
        if args.salt_buckets == "adaptive"
        else int(args.salt_buckets)
    )
    out = iceberg_ingest_tick(
        spark, args.table, args.sink,
        codec=args.codec, salt_buckets=salt, cluster_by=args.cluster_by,
        partition_cols=(
            args.partition_cols.split(",") if args.partition_cols else None
        ),
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
