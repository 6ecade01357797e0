#!/usr/bin/env python3
"""Benchmark of the hadoop_etl_udfs_spark engine.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 18 --trace 0

Workloads:

- ``ingest_serve``: per cycle, an Iceberg pages table through read_iceberg
  -> encode_pages -> write_encoded (the north-star encode job), then a full
  scan, a warc_ts window read, url point lookups and a takedown against
  another sink built in set-up.
- ``dedup_pipeline``: minhash_signatures -> lsh_band_pairs ->
  duplicate_clusters_star over pages text with planted near-duplicates.

Each run is one process with one Spark ``local[nproc]`` session and one
client in a closed loop: it builds the inputs from ``--seed``, runs one
warm (cold) cycle, times cycles for about ``--seconds`` in all, and checks
every answer outside the timed region. A wrong answer, or a check that
raises, makes ``correct`` false and the exit code 1.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(time: the fastest timed cycle; CPU, net of the JVM's JIT compiler
threads, and peak PSS: the medians); with ``--trace 1`` it carries the per-layer metrics of a traced run, in which
each traced cycle lies between two untraced ones, so the tracing overhead
is measured in the same process. The lines before it are a table of every
metric with its unit and the correctness verdict. Each run also writes a
JSON record (host, sizes, all metrics, every operation, and in a traced run
every span) to ``perfbench-results/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from interpreter start-up

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ingest_serve", "dedup_pipeline")


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "hadoop_etl_udfs_spark" / "__init__.py").is_file():
        print(f"perfbench: no hadoop_etl_udfs_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import host
    import layers
    from harness import Run

    info = host.host_info()
    work = ROOT / ".perfbench-work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        spark = host.start_session(ROOT, work, info)
        try:
            run = Run(spark, work, args.seed, args.seconds, bool(args.trace), T0)
            result = run.execute(args.workload)
        finally:
            host.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()

    # a cycle that raises adds a failed "cycle" operation
    correct = result["failed"] == 0
    table = result["layers"] if args.trace else result["e2e"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} | "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    for key, (value, unit) in table.items():
        print(f"  {key:<28} {_fmt(value):>14}  {unit}")
    print(f"  host steal during timed cycles: {result['timed_steal_share']:.1%}")
    print(f"  correct: {correct}  ({result['attempted']} ops attempted, "
          f"{result['failed']} failed)")

    out_dir = ROOT / "perfbench-results"
    out_dir.mkdir(exist_ok=True)
    record = {"args": vars(args), "host": info, "correct": correct} | result
    if args.trace:
        record["sample_codec_mix"] = run.sample_codec_mix
    suffix = "-trace" if args.trace else ""
    with open(out_dir / f"{args.workload}-seed{args.seed}{suffix}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    keys = layers.PER_LAYER if args.trace else layers.END_TO_END
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": table[k][0], "unit": table[k][1]}
            for k in keys if k in table
        },
    }))
    # a wrong answer, or a check that raised, fails the command too
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
