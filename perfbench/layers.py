"""Per-layer numbers of the traced run: statistics helpers, span and stage
sums, and driver-side timings of the codec layer on a chunk sampled from
the workload's own input."""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from hadoop_etl_udfs_spark.codecs.api import decode_array, encode_array, verify_crc
from hadoop_etl_udfs_spark.codecs.frame import block_compress
from hadoop_etl_udfs_spark.codecs.selector import choose_bytes_codec, choose_int_codec
from hadoop_etl_udfs_spark.codecs.varbytes import arrow_to_varbytes, is_varbytes
from hadoop_etl_udfs_spark.plans.bloom import bloom_build, bloom_domain

SAMPLE_ROWS = 4096
_REPEATS = 5

# the metric lists and units come from BENCHMARK.json itself, so the
# result line always carries exactly the metrics it lists
_SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def tail(xs) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than eleven."""
    n = len(xs)
    if n < 11:
        return None
    ordered = sorted(xs)
    k = n - 11  # ten samples lie above index k
    return 100.0 * (k + 1) / n, ordered[k]


def span_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def stages(spans: list[dict], key: str, pred=None) -> float:
    return sum(
        st[key]
        for s in spans
        for st in s.get("stages", ())
        if pred is None or pred(st)
    )


def is_source(stage: dict) -> bool:
    """A stage that reads files rather than a shuffle."""
    return stage["shuffle_read_mb"] == 0 and stage["run_s"] > 0


def common(tracer, ops: list[dict], cycles: list[dict]) -> dict:
    """Layers every workload has: the process tree, the JVM heap, the Spark
    stages and the shuffle, per traced cycle. ``shuffle.task_skew`` is
    max/median task run time of each cycle's busiest shuffle-reading
    stage."""
    peaks = [c["peak_pss"] for c in cycles]
    n = len({o["cycle"] for o in ops})
    spans = tracer.spans
    busiest: dict[int, dict] = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = spans[root["parent"]]
        for st in s["stages"]:
            top = busiest.get(root["id"])
            if st["shuffle_read_mb"] > 0 and st.get("task_p50_s") and (
                top is None or st["run_s"] > top["run_s"]
            ):
                busiest[root["id"]] = st
    return {
        "jvm.peak_pss_mb": median([p.get("jvm", 0.0) for p in peaks]),
        "pyworkers.peak_pss_mb": median([p.get("pyworkers", 0.0) for p in peaks]),
        "jvm.old_gen_peak_mb": median([c["heap_peak_mb"] for c in cycles]),
        "driver.cpu_s": sum(o["cpu_s"]["driver"] for o in ops) / n,
        "jvm.cpu_s": sum(o["cpu_s"]["jvm"] for o in ops) / n,
        "jvm.jit_cpu_s": sum(o["cpu_s"]["jit"] for o in ops) / n,
        "pyworkers.cpu_s": sum(o["cpu_s"]["pyworkers"] for o in ops) / n,
        "stages.run_s": stages(spans, "run_s") / n,
        "stages.cpu_s": stages(spans, "cpu_s") / n,
        "shuffle.write_mb": stages(spans, "shuffle_write_mb") / n,
        "shuffle.spill_mb": stages(spans, "spill_mb") / n,
        "shuffle.task_skew": mean(
            [st["task_max_s"] / st["task_p50_s"] for st in busiest.values()]
        ),
    }


def _timed(fn) -> float:
    best = []
    for _ in range(_REPEATS):
        t = time.perf_counter()
        fn()
        best.append(time.perf_counter() - t)
    return statistics.median(best)


def codec_probe(table: pa.Table, bloom_column: str) -> tuple[dict, dict]:
    """Median seconds per layer summed over the sample's columns, and the
    codec the encoder chose for each column."""
    out = dict.fromkeys(
        ("codecs.select_s", "codecs.encode_s", "codecs.block_s",
         "codecs.crc_s", "codecs.decode_s", "bloom.build_s"), 0.0
    )
    mix = {}
    for name in table.column_names:
        arr = table.column(name).combine_chunks()
        if is_varbytes(arr.type):
            lengths, data = arrow_to_varbytes(arr.drop_null())
            raw = data.tobytes()
            out["codecs.select_s"] += _timed(lambda: choose_bytes_codec(lengths, data))
        else:
            values = np.ascontiguousarray(
                pc.cast(arr.drop_null(), pa.int64()).to_numpy(), dtype=np.int64
            )
            raw = values.tobytes()
            out["codecs.select_s"] += _timed(lambda: choose_int_codec(values))
        enc = encode_array(arr)
        mix[name] = enc.codec
        out["codecs.encode_s"] += _timed(lambda: encode_array(arr))
        out["codecs.block_s"] += _timed(lambda: block_compress(raw))
        out["codecs.crc_s"] += _timed(lambda: verify_crc(arr, enc.crc32))
        out["codecs.decode_s"] += _timed(lambda: decode_array(enc.payload, enc.meta))
    key = table.column(bloom_column).combine_chunks()
    if bloom_domain(key.type) is not None:
        out["bloom.build_s"] = _timed(lambda: bloom_build(key))
    return out, mix
