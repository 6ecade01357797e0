"""spark-submit entry point for sink reclustering (the OPTIMIZE/compaction
step — plans.lineage.recluster_sink).

Rewrites an existing encoded-chunk sink range-clustered on a numeric-domain
column, so time/range decodes prune at the scan
(decode_chunks_where_clustered). Use on sinks built before clustering or
appended incrementally without ``--cluster-by`` (appends, ingest ticks).

    python tools/package.py   # builds dist/hadoop_etl_udfs_spark.zip
    spark-submit --master 'local[8]' \
        --py-files dist/hadoop_etl_udfs_spark.zip \
        jobs/recluster_job.py \
        --src /path/to/old_sink --dst /path/to/clustered_sink \
        --cluster-by warc_ts [--partitions 64] [--codec auto] \
        [--global-dict lang] [--partition-by-column]

The destination must not exist (errorifexists — a re-run cannot append-mix
into a half-written sink; delete and re-run instead). Prints one JSON line:
wall seconds, chunk count, and the fraction of chunks a mid-range probe
would keep (a quick clustering-quality signal — ~the probed fraction of the
value range on a well-clustered sink, ~1.0 on an unclustered one).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--src", required=True, help="existing encoded sink")
    p.add_argument("--dst", required=True, help="new clustered sink (must not exist)")
    p.add_argument("--cluster-by", required=True,
                   help="numeric-domain column to range-cluster on")
    p.add_argument("--partitions", type=int, default=None,
                   help="range partition count (default: defaultParallelism)")
    p.add_argument("--codec", default="auto")
    p.add_argument("--global-dict", action="append", default=[],
                   help="column(s) whose committed global dictionary to reuse")
    p.add_argument("--partition-by-column", action="store_true",
                   help="lay the new sink out as column=<name>/ directories")
    args = p.parse_args()

    from hadoop_etl_udfs_spark.session import get_job_spark

    spark = get_job_spark("recluster_job")

    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.plans import globaldict, lineage

    gds = {
        col: globaldict.load_global_dict(args.src, col)
        for col in args.global_dict
    }

    t0 = time.time()
    lineage.recluster_sink(
        spark,
        args.src,
        args.dst,
        args.cluster_by,
        n_partitions=args.partitions,
        codec=args.codec,
        global_dicts=gds or None,
        partition_by_column=args.partition_by_column,
    )
    for col in args.global_dict:  # the new sink must decode standalone
        globaldict.save_global_dict(gds[col], args.dst, col)
    wall = time.time() - t0

    m = lineage.read_manifest(spark, args.dst)
    stats = lineage.read_encoded(spark, args.dst).select(
        "chunk_id", "cluster_lo", "cluster_hi"
    ).distinct()
    b = stats.agg(
        F.min("cluster_lo").alias("lo"), F.max("cluster_hi").alias("hi"),
        F.count("*").alias("chunks"),
    ).collect()[0]
    # probe: middle 10% of the value range — kept fraction ≈ 0.1 when
    # clustering worked, ≈ 1.0 when every chunk spans the whole range.
    # NULL-stamped chunks count as kept: readers keep them conservatively
    # (recluster_sink guarantees at least one non-NULL stamp, so lo/hi are
    # set, but individual all-null chunks can still stamp NULL)
    span = (b["hi"] - b["lo"]) or 1
    plo, phi = b["lo"] + int(span * 0.45), b["lo"] + int(span * 0.55)
    kept = stats.filter(
        lineage.cluster_ranges_keep_predicate([(plo, phi)])
    ).count()
    print(
        json.dumps(
            {
                "wall_s": round(wall, 2),
                "chunks": b["chunks"],
                "cluster_lo": b["lo"],
                "cluster_hi": b["hi"],
                "mid_probe_kept_fraction": round(kept / max(1, b["chunks"]), 3),
                "bytes_out": m.agg(F.sum("bytes_out").alias("s")).collect()[0]["s"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
