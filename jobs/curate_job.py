"""spark-submit entry point for the END-TO-END curation pipeline (r6 verdict
item 4): stratified mix sample -> best-in-cluster near-dup resolution (drop
losers) -> token-budget shard packing -> shard-clustered chunk-encode sink.

    python tools/package.py
    spark-submit --master 'local[8]' \
        --py-files dist/hadoop_etl_udfs_spark.zip \
        jobs/curate_job.py --output /path/out \
        [--input docs_parquet | --synthesize N] [--input-format parquet|iceberg] \
        [--budget-tokens 2048] [--no-check] \
        [--source-cap] [--boilerplate] [--repetition-filter] [--lm-filter] \
        [--lm-order 2] \
        [--split] [--sequences]

The four optional stages (round 8) slot in pipeline order: sample ->
quota cap -> boilerplate removal -> repetition filter -> LM perplexity
filter -> keep-best
dedup -> packing -> split column; each reuses the operator's composable
_df form through operators.curation.curate_corpus (one definition).

Each stage is individually oracle-green in the driver gate; this job is the
COMPOSITION a training-data pipeline runs, with per-stage walls, plus the
decode-side proof: one shard read back through the cluster-stamp-pruned
decode path must return exactly that shard's documents.

Prints one JSON line: per-stage walls, doc counts through the funnel, shard
count, sink chunk stats, and the shard read-back verdict.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _synth_docs(spark, n: int, seed: int):
    """Documents-shaped corpus from the deterministic pages synthesizer,
    with planted near-dup variants (~1/8 of docs get a lower-quality twin)
    so the keep-best stage resolves a real cluster graph — the synthetic
    corpus has no organic near-dups (bench.py measured 0 pairs)."""
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n, seed=seed)
    base = pages.select(
        F.xxhash64("url").alias("doc_id"),
        "text",
        "lang",
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("source"),
    )
    h = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8))
    # variant ids are REHASHED, not offset (doc_id + c can overflow int64
    # under ANSI); the appended noise tokens lower the twin's quality
    # score via the token-window heuristics the quality stage measures
    twins = base.filter(h < 1).select(
        F.xxhash64(F.col("doc_id"), F.lit(1)).alias("doc_id"),
        F.concat(
            "text", F.lit(" NEARDUP NEARDUP TWIN,,,;;;!!! ;;;,,,:::")
        ).alias("text"),
        "lang",
        "source",
    )
    return base.unionByName(twins)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="documents table (doc_id, text, lang, source)")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "iceberg"])
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate N deterministic docs instead of --input")
    p.add_argument("--output", required=True, help="curated chunk-sink dir")
    p.add_argument("--budget-tokens", type=int, default=None,
                   help="tokens per shard (default: operator constant)")
    p.add_argument("--method", default="xxhash64", choices=["xxhash64", "md5"],
                   help="near-dup hash family (md5 = the oracle-checked twin)")
    p.add_argument("--source-cap", action="store_true",
                   help="per-source quota cap stage (two-phase salted top-k)")
    p.add_argument("--boilerplate", action="store_true",
                   help="cross-doc boilerplate removal stage (rewrites text)")
    p.add_argument("--repetition-filter", action="store_true",
                   help="drop docs whose Gopher repetition_flag fires")
    p.add_argument("--lm-filter", action="store_true",
                   help="unigram-LM perplexity filter stage (CCNet-style)")
    p.add_argument("--lm-drop-frac", type=float, default=None,
                   help="relative LM cut: drop the worst FRAC of docs by "
                        "per-token NLL (default: the absolute micro-nat "
                        "threshold, which suits the driver corpus family)")
    p.add_argument("--lm-order", type=int, default=1, choices=[1, 2],
                   help="LM order for the filter stage: 1 = unigram "
                        "(default), 2 = bigram with stupid backoff into "
                        "the same unigram model")
    p.add_argument("--split", action="store_true",
                   help="near-dup-safe train/val/test split column")
    p.add_argument("--sequences", action="store_true",
                   help="also emit the fixed-length training-sequence span "
                        "table (pack_token_sequences over the curated docs) "
                        "to <output>/sequences")
    p.add_argument("--no-check", action="store_true",
                   help="skip the decode-side shard read-back proof")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()
    if not args.input and not args.synthesize:
        p.error("one of --input or --synthesize is required")

    sys.path.insert(0, ".")
    from hadoop_etl_udfs_spark.session import get_job_spark

    spark = get_job_spark("curate_job")
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.curation import (
        CURATED_SCHEMA,
        CURATED_SPLIT_SCHEMA,
        PACK_BUDGET_TOKENS,
        curate_corpus,
    )
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans.lineage import (
        cluster_ranges_keep_predicate,
        decode_chunks_where_clustered,
        read_encoded,
        read_manifest,
        write_encoded,
    )

    if args.synthesize:
        docs = _synth_docs(spark, args.synthesize, args.seed)
    elif args.input_format == "iceberg":
        from hadoop_etl_udfs_spark.sources.iceberg_lite import read_iceberg

        docs = read_iceberg(spark, args.input)
    else:
        docs = spark.read.parquet(args.input)
    budget = args.budget_tokens or PACK_BUDGET_TOKENS

    # ONE composition definition (operators/curation.py::curate_corpus);
    # the hook materializes each stage with its own timer so walls are
    # attributable (same attribution pattern as bench.py's dedup entry)
    n_in = docs.count()
    walls: dict[str, float] = {}
    counts: dict[str, int] = {}
    mark = [time.time()]

    def hook(name, df):
        df = df.localCheckpoint()
        counts[name] = df.count()
        walls[name] = round(time.time() - mark[0], 3)
        mark[0] = time.time()
        return df

    with_shard = curate_corpus(
        docs, budget_tokens=budget, method=args.method, stage_hook=hook,
        source_cap=args.source_cap, boilerplate=args.boilerplate,
        repetition_filter=args.repetition_filter,
        lm_filter=args.lm_filter, lm_drop_frac=args.lm_drop_frac,
        lm_order=args.lm_order, split=args.split,
    )
    curated_schema = CURATED_SPLIT_SCHEMA if args.split else CURATED_SCHEMA
    n_sampled = counts["stratified_sample"]
    n_curated = counts["dedup_keep_best"]
    if n_curated == 0:
        raise SystemExit(
            "no documents survived curation (input empty, or every doc "
            "sampled out) — nothing to pack or encode"
        )
    n_shards = int(with_shard.agg(
        (F.max("shard_id") + 1).alias("n")
    ).collect()[0]["n"])

    # shard-coherent sink layout (the IVF cell-clustered pattern): RANGE
    # partition so each partition holds contiguous whole shards -> chunk
    # [cluster_lo, cluster_hi] stamps stay narrow and shard reads prune
    t0 = time.time()
    n_parts = max(8, min(64, spark.sparkContext.defaultParallelism))
    laid_out = with_shard.repartitionByRange(
        n_parts, "shard_id"
    ).sortWithinPartitions("shard_id", "doc_id")
    enc = encode_pages(laid_out, shuffle=False, cluster_by="shard_id")
    write_encoded(enc, args.output, mode="errorifexists")
    encode_wall = round(time.time() - t0, 3)

    m = read_manifest(spark, args.output)
    agg = m.agg(
        F.countDistinct("chunk_id").alias("chunks"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
    ).collect()[0]

    check = None
    if not args.no_check:
        # decode-side proof: one shard read through the cluster-stamped
        # pruned path returns exactly that shard's documents. Greedy
        # packing can legitimately SKIP shard ids (a doc longer than the
        # budget jumps the offset by >1 shard), so probe the first
        # POPULATED shard at/after the midpoint — n_shards-1 (the max
        # observed id) guarantees one exists
        mid = int(with_shard.filter(
            F.col("shard_id") >= n_shards // 2
        ).agg(F.min("shard_id")).collect()[0][0])
        t0 = time.time()
        got = decode_chunks_where_clustered(
            spark, args.output, lo=mid, hi=mid, schema=curated_schema
        ).filter(F.col("shard_id") == mid)
        want = with_shard.filter(F.col("shard_id") == mid)
        # full-ROW symmetric difference, both directions: the old
        # union-occurrence counter passed a doc_id duplicated on one side
        # and missing from the other (2 = 2), and never compared payload
        # columns (r7 advice) — exceptAll is multiset-exact
        from pyspark.sql.types import StructType

        cols = [f.name for f in StructType.fromDDL(curated_schema).fields]
        diff = (
            got.select(*cols).exceptAll(want.select(*cols)).count()
            + want.select(*cols).exceptAll(got.select(*cols)).count()
        )
        total_chunks = int(agg["chunks"])
        # counted with the decode's own keep predicate, so the reported
        # chunks_kept is what the pruned read above kept
        kept = (
            read_encoded(spark, args.output)
            .filter(cluster_ranges_keep_predicate([(mid, mid)]))
            .select("chunk_id").distinct().count()
        )
        check = {
            "shard": mid,
            "docs_expected": want.count(),
            "row_mismatches": diff,
            "exact": diff == 0,
            "chunks_kept": kept,
            "chunks_total": total_chunks,
            "wall_s": round(time.time() - t0, 3),
        }

    seq_info = None
    if args.sequences:
        from hadoop_etl_udfs_spark.operators.curation import (
            SEQ_LEN,
            pack_token_sequences_df,
        )

        # sequences pack the CURATED corpus (post-dedup survivors) — the
        # span table is the training-consumption view of the same docs the
        # shard sink stores; written beside it, doc_id joins the two
        t0 = time.time()
        spans = pack_token_sequences_df(with_shard).localCheckpoint()
        n_seq_raw = spans.agg((F.max("seq_id") + 1).alias("n")).collect()[0]["n"]
        if n_seq_raw is None:
            raise SystemExit(
                "--sequences: curated corpus has zero placeable tokens "
                "(every surviving doc tokenizes to 0 tokens) — nothing to pack"
            )
        n_seq = int(n_seq_raw)
        interior_not_full = (
            spans.filter(F.col("seq_id") < n_seq - 1)
            .groupBy("seq_id").agg(F.sum("span_tokens").alias("t"))
            .filter(F.col("t") != SEQ_LEN).count()
        )
        spans.write.parquet(args.output + "/sequences")
        seq_info = {
            "n_sequences": n_seq,
            "span_rows": spans.count(),
            "seq_len": SEQ_LEN,
            "interior_not_full": interior_not_full,
            "wall_s": round(time.time() - t0, 3),
        }
        if interior_not_full:
            raise SystemExit(
                f"sequence packing violated its tiling contract: "
                f"{interior_not_full} interior sequences not exactly "
                f"{SEQ_LEN} tokens"
            )

    print(json.dumps({
        "docs_in": n_in,
        "docs_sampled": n_sampled,
        "docs_after_dedup": n_curated,
        "stage_counts": counts,
        "n_shards": int(n_shards),
        "budget_tokens": budget,
        "chunks": int(agg["chunks"]),
        "bytes_in": agg["bytes_in"],
        "bytes_out": agg["bytes_out"],
        "ratio": round(agg["bytes_in"] / max(1, agg["bytes_out"]), 3),
        "stage_walls_s": {**walls, "encode_sink": encode_wall},
        "shard_readback": check,
        "sequences": seq_info,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
