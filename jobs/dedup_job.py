"""spark-submit entry point for the near-dup resolution pipeline.

    spark-submit --master 'local[8]' \
        --py-files dist/hadoop_etl_udfs_spark.zip \
        jobs/dedup_job.py --input /path/docs_parquet --output /path/out \
        [--input-format parquet|iceberg] [--id-col doc_id] [--text-col text] \
        [--max-band-bucket 64]

One run = the full pipeline bench.py times at sf0.1: MinHash-LSH candidate
pairs -> large-star/small-star connected components -> per-document
(cluster_rep, cluster_size) labels, written as parquet. Documents in no
candidate pair are implicitly their own singleton cluster (not emitted —
join the label table back with a left join and coalesce(rep, doc_id), the
same contract as operators.dedup.duplicate_clusters_star).

Prints one JSON line: docs, candidate edges, CC alternations, clusters,
wall seconds. Sessions come from get_job_spark so any chunk-encoding step
downstream chunks identically to the API sessions.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "iceberg"])
    p.add_argument("--id-col", default="doc_id",
                   help="a key of the input: each row is signed as one doc")
    p.add_argument("--text-col", default="text")
    p.add_argument("--max-band-bucket", type=int, default=None,
                   help="band-bucket size cap (default: operator constant)")
    args = p.parse_args()

    sys.path.insert(0, ".")
    from hadoop_etl_udfs_spark.session import get_job_spark

    spark = get_job_spark("dedup_job")
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.dedup import (
        MAX_BAND_BUCKET,
        duplicate_clusters_star,
        minhash_lsh_pairs_df,
    )

    if args.input_format == "iceberg":
        from hadoop_etl_udfs_spark.sources.iceberg_lite import read_iceberg

        docs = read_iceberg(spark, args.input)
    else:
        docs = spark.read.parquet(args.input)
    docs = docs.select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.text_col).alias("text"),
    )
    n_docs = docs.count()
    stats: dict = {}
    t0 = time.time()
    cap = (
        MAX_BAND_BUCKET if args.max_band_bucket is None
        else args.max_band_bucket
    )
    pairs = minhash_lsh_pairs_df(docs, max_band_bucket=cap)
    labels = duplicate_clusters_star(pairs, stats=stats)
    # every rep labels itself, so the write counts the clusters on the way
    reps = Observation()
    labels.observe(
        reps, F.count_if(F.col("doc_id") == F.col("cluster_rep")).alias("n")
    ).write.mode("overwrite").parquet(args.output)
    wall = round(time.time() - t0, 3)
    n_clusters = reps.get["n"]
    print(json.dumps({
        "docs": n_docs,
        "candidate_edges": stats.get("n_edges"),
        "cc_alternations": stats.get("alternations"),
        "clusters": n_clusters,
        "wall_s": wall,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
