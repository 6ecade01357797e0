"""The benchmark's two workloads, ``ingest_serve`` (a pages_ingest pass and
a sink_serve request sequence per cycle) and ``dedup_pipeline``.

Each one builds its inputs from the seed (untimed, inside set-up), runs
cycles of operations through the package's public functions, and checks
every answer outside the timed region. ``Run.op`` times an operation and
records whether its answer was right.

Sizes are fixed here; BENCHMARK.json's workload notes repeat them. They
are small: a run's cost is mostly the JVM's start and warm-up, and each run
is kept to about a minute.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import random
import shutil
from collections import Counter, defaultdict
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.operators.dedup import (
    duplicate_clusters_star,
    lsh_band_pairs,
    minhash_signatures,
)
from hadoop_etl_udfs_spark.operators.encode import (
    decode_chunks,
    decode_chunks_colocated,
    encode_pages,
)
from hadoop_etl_udfs_spark.plans.lineage import (
    bloom_candidate_chunks,
    cluster_ranges_keep_predicate,
    decode_chunks_where_clustered,
    decode_chunks_where_key_in,
    delete_from_sink,
    read_encoded,
    read_encoded_colocated,
    write_encoded,
)
from hadoop_etl_udfs_spark.sources.iceberg_lite import (
    iceberg_data_files,
    read_iceberg,
    write_iceberg_table,
)
from hadoop_etl_udfs_spark.sources.pages import pages_input_bytes, synthesize_pages

import layers

PAGES_COLS = ["url", "warc_ts", "html", "text", "lang"]
SINK_FIELDS = ("chunk_id", "column", "codec", "crc32", "meta", "stats",
               "cluster_lo", "cluster_hi", "payload")


def fingerprint(df, cols=PAGES_COLS) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64 over the row): order-free and, unlike a
    sum of hashes, safe from ANSI overflow."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(r["n"]), int(r["x"])


def sink_files(path: Path) -> list[Path]:
    return sorted((path / "chunks").rglob("*.parquet"))


def sink_signature(sink: Path) -> dict:
    """What must repeat exactly when the same input is encoded again: the
    chunk-id set, the codec mix, and every chunk row's stored bytes. Read
    straight from the sink's parquet files, so a check costs no Spark job."""
    files = sink_files(sink)
    rows = [r for f in files for r in pq.read_table(f).to_pylist()]
    ids = sorted({r["chunk_id"] for r in rows})
    digests = sorted(
        hashlib.sha1(repr([r[k] for k in SINK_FIELDS]).encode()).hexdigest()
        for r in rows
    )
    return {
        "chunks": len(ids),
        "chunk_ids_sha1": hashlib.sha1(repr(ids).encode()).hexdigest(),
        "rows_sha1": hashlib.sha1(repr(digests).encode()).hexdigest(),
        "codec_mix": dict(sorted(
            Counter(f"{r['column']}:{r['codec']}" for r in rows).items()
        )),
        "stored_bytes": sum(p.stat().st_size for p in files),
        "files": len(files),
    }


class Workload:
    name = ""
    # nominal seconds per cycle, on a 4-core host: a run times
    # round(--seconds / cycle_s) cycles
    cycle_s = 1.0

    def __init__(self, run) -> None:
        self.run = run
        self.spark = run.spark
        self.work = run.work
        self.rng = random.Random(run.seed)

    def build(self) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def sample_chunk(self):
        """A chunk-sized Arrow table of this workload's own input, for the
        driver-side codec timings of the traced run."""
        raise NotImplementedError

    def end_to_end(self) -> dict:
        """Workload-specific end-to-end numbers (printed, not bounded)."""
        return {}

    def layer_metrics(self, tracer) -> dict:
        return {}


class PagesIngest(Workload):
    """Iceberg pages table -> read_iceberg -> encode_pages -> write_encoded."""

    n_docs = 16_000

    def build(self) -> None:
        self.table = str(self.work / "pages_iceberg")
        pages = synthesize_pages(self.spark, self.n_docs, seed=self.run.seed)
        write_iceberg_table(pages, self.table, mode="overwrite")
        df = read_iceberg(self.spark, self.table)
        self.input_bytes = pages_input_bytes(df)
        self.input_fp = fingerprint(df)
        self.first_sig = None

    def _encode(self, df):
        return encode_pages(
            df, salt_buckets=8, cluster_by="warc_ts", bloom_by=["url"]
        )

    def cycle(self, i: int) -> None:
        run, tr = self.run, self.run.tracer
        sink = self.work / f"sink{i}"
        with run.op("ingest") as op:
            with tr.span("iceberg.read"):
                df = read_iceberg(self.spark, self.table)
            with tr.span("encode.write"):
                write_encoded(self._encode(df), str(sink))
        if tr.enabled:
            # sink.write_s = encode.write minus the same encode into a noop
            # sink; traced cycles only, outside the op
            with tr.span("encode.noop"):
                self._encode(read_iceberg(self.spark, self.table)).write.format(
                    "noop"
                ).mode("overwrite").save()
        sig = sink_signature(sink)
        if self.first_sig is None:
            # the first sink is decoded in full; every later one must hold
            # the same bytes, so it decodes to the same rows
            got = fingerprint(
                decode_chunks_colocated(read_encoded_colocated(self.spark, str(sink)))
            )
            op.check(got == self.input_fp, f"decoded {got} != input {self.input_fp}")
            self.first_sig = sig
        op.check(sig == self.first_sig, f"determinism: {sig} != {self.first_sig}")
        shutil.rmtree(sink)

    def sample_chunk(self):
        return (
            read_iceberg(self.spark, self.table)
            .orderBy("url").limit(layers.SAMPLE_ROWS).toArrow()
        )

    def end_to_end(self) -> dict:
        ingest_s = layers.median(self.run.timed_walls("ingest"))
        return {
            "ingest_mb_per_s": (self.input_bytes / 1e6 / ingest_s, "MB/s"),
            "stored_bytes_ratio": (
                self.first_sig["stored_bytes"] / self.input_bytes, "ratio"
            ),
        }

    def layer_metrics(self, tracer) -> dict:
        out = {}
        n = len(tracer.named("ingest"))
        writes = tracer.named("encode.write")
        noops = tracer.named("encode.noop")
        out["iceberg.plan_s"] = layers.span_s(tracer.named("iceberg.read")) / n
        files, _ = iceberg_data_files(self.table)
        out["scan.input_mb"] = sum(os.path.getsize(f) for f in files) / 1e6
        out["scan.cpu_s"] = layers.stages(writes, "cpu_s", layers.is_source) / n
        out["kernel.run_s"] = layers.stages(
            writes, "run_s", lambda st: st["output_mb"] > 0
        ) / n
        out["kernel.py_cpu_s"] = sum(s["cpu_s"]["pyworkers"] for s in writes) / n
        out["kernel.chunks"] = self.first_sig["chunks"]
        out["sink.write_s"] = (layers.span_s(writes) - layers.span_s(noops)) / n
        out["sink.write_mb"] = self.first_sig["stored_bytes"] / 1e6
        out["sink.files"] = self.first_sig["files"]
        out["sink.stored_bytes_ratio"] = self.first_sig["stored_bytes"] / self.input_bytes
        return out


class SinkServe(Workload):
    """A seeded request sequence against a range-clustered, url-bloomed
    sink: per cycle one full scan, a warc_ts window read, url point lookups
    (half present, half absent), and one takedown.

    The sink is laid out as ``recluster_sink`` lays one out by default: one
    range chunk per task slot (``defaultParallelism``), so 4 chunks of 6,250
    rows on a 4-core host. That is half the rows per chunk of a 200k-doc,
    16-chunk ``encode_pages`` and three times those of pages_ingest's sink;
    a sink of 2,000-row chunks measured no faster, as each operation's cost
    is mostly fixed Spark job overhead.

    The requests have the same shape for every seed, so the seed changes
    the data but not the work: a window holds 1/32 of the rows and lies
    inside one chunk, and the takedown names one url in each of two chunks.
    The window width, the lookup mix and the size of a takedown are
    assumptions, not taken from a trace."""

    n_docs = 25_000
    n_lookups = 2
    n_doomed = 2
    window_rows = n_docs // 32

    def build(self) -> None:
        self.sink = str(self.work / "sink")
        pages = synthesize_pages(
            self.spark, self.n_docs, seed=self.run.seed
        ).localCheckpoint()
        enc = encode_pages(
            pages.repartitionByRange(self.spark.sparkContext.defaultParallelism, "warc_ts"),
            shuffle=False, cluster_by="warc_ts", bloom_by=["url"],
        )
        write_encoded(enc, self.sink)
        rows = pages.select(
            "url",
            F.unix_micros("warc_ts").alias("ts"),
            F.xxhash64(*PAGES_COLS).alias("fp"),
        ).collect()
        self.fp_of = {r["url"]: r["fp"] for r in rows}
        self.urls = sorted(self.fp_of)
        self.ts = sorted(r["ts"] for r in rows)
        self.input_fp = (len(rows), _xor(self.fp_of.values()))
        # payload bytes per chunk, and the chunks' warc_ts stamps in order,
        # read from the sink's files; each chunk's rows are then a
        # [first, end) span of the sorted timestamps
        chunk_rows = [
            r for f in sink_files(Path(self.sink))
            for r in pq.read_table(
                f, columns=["chunk_id", "bytes_out", "cluster_lo", "cluster_hi"]
            ).to_pylist()
        ]
        self.payload_bytes = Counter()
        for r in chunk_rows:
            self.payload_bytes[r["chunk_id"]] += r["bytes_out"]
        self.total_chunks = len(self.payload_bytes)
        stamps = sorted({(r["cluster_lo"], r["cluster_hi"]) for r in chunk_rows})
        self.spans = [
            (bisect.bisect_left(self.ts, lo), bisect.bisect_right(self.ts, hi))
            for lo, hi in stamps
        ]
        los = [lo for lo, _ in stamps]
        by_chunk = defaultdict(list)
        for r in rows:
            by_chunk[bisect.bisect_right(los, r["ts"]) - 1].append(r["url"])
        self.kept = {"range": [], "lookup": []}
        self.decoded_bytes = 0  # payload bytes of the chunks traced reads decode
        self.fp_hits = [0, 0]  # chunks decoded with no hit, chunks decoded
        # one takedown request per run, repeated each cycle
        self.doomed = [
            self.rng.choice(sorted(by_chunk[c]))
            for c in self.rng.sample(sorted(by_chunk), self.n_doomed)
        ]
        self.takedown_sig = None
        self.takedowns = []

    def _window(self) -> tuple[int, int]:
        """``window_rows`` consecutive timestamps well inside one chunk."""
        first, end = self.rng.choice(self.spans)
        margin = self.window_rows // 2
        start = self.rng.randint(first + margin, end - margin - self.window_rows)
        return self.ts[start], self.ts[start + self.window_rows - 1]

    def cycle(self, i: int) -> None:
        run, spark = self.run, self.spark
        with run.op("scan") as op:
            got = fingerprint(
                decode_chunks_colocated(read_encoded_colocated(spark, self.sink))
            )
        op.check(got == self.input_fp, f"scan fingerprint {got} != {self.input_fp}")
        if run.tracer.enabled:
            self.decoded_bytes += sum(self.payload_bytes.values())

        lo, hi = self._window()
        ts = F.unix_micros("warc_ts")
        with run.op("range") as op:
            n = decode_chunks_where_clustered(
                spark, self.sink, lo=lo, hi=hi
            ).filter((ts >= lo) & (ts <= hi)).count()
        want = _count_between(self.ts, lo, hi)
        op.check(n == want, f"window [{lo}, {hi}] gave {n} rows, input has {want}")
        if run.tracer.enabled:
            self._kept("range", read_encoded(spark, self.sink).filter(
                cluster_ranges_keep_predicate([(lo, hi)])
            ))

        for k in range(self.n_lookups):
            url = self.rng.choice(self.urls)
            present = k % 2 == 0
            key = url if present else url + "?absent"
            with run.op("lookup") as op:
                rows = decode_chunks_where_key_in(
                    spark, self.sink, "url", [key]
                ).select("url", F.xxhash64(*PAGES_COLS).alias("fp")).collect()
            want = [(key, self.fp_of[key])] if present else []
            op.check(
                [(r["url"], r["fp"]) for r in rows] == want,
                f"lookup {key!r} returned {len(rows)} rows, wanted {len(want)}",
            )
            if run.tracer.enabled:
                url_rows = read_encoded(spark, self.sink).filter(F.col("column") == "url")
                cand = self._kept("lookup", bloom_candidate_chunks(
                    url_rows.select("chunk_id", "stats"), "url", [key], spark
                ))
                self.fp_hits[0] += cand - int(present)
                self.fp_hits[1] += cand

        dst = self.work / f"takedown{i}"
        with run.op("takedown") as op:
            st = delete_from_sink(
                spark, self.sink, str(dst), self.doomed,
                key_column="url", cluster_by="warc_ts",
            )
        op.check(st["rows_deleted"] == self.n_doomed, f"rows_deleted {st}")
        sig = sink_signature(dst)
        if self.takedown_sig is None:
            # the first destination is decoded in full; the same takedown
            # of the same sink must write the same bytes on every later
            # cycle, so it decodes to the same rows
            got = fingerprint(decode_chunks(read_encoded(spark, str(dst))))
            want = (
                self.input_fp[0] - self.n_doomed,
                self.input_fp[1] ^ _xor(self.fp_of[u] for u in self.doomed),
            )
            op.check(got == want, f"takedown sink {got} != source minus doomed {want}")
            self.takedown_sig = sig
        op.check(
            sig == self.takedown_sig,
            f"takedown determinism: {sig} != {self.takedown_sig}",
        )
        self.takedowns.append(st)
        shutil.rmtree(dst)

    def _kept(self, kind: str, chunks) -> int:
        """Record the share of chunks a pruned read keeps, recomputed with
        the engine's own keep predicate, and the payload bytes it decodes."""
        ids = {r["chunk_id"] for r in chunks.select("chunk_id").distinct().collect()}
        self.kept[kind].append(len(ids) / self.total_chunks)
        self.decoded_bytes += sum(self.payload_bytes[c] for c in ids)
        return len(ids)

    def sample_chunk(self):
        return (
            decode_chunks_colocated(read_encoded_colocated(self.spark, self.sink))
            .orderBy("url").limit(layers.SAMPLE_ROWS).toArrow()
        )

    def end_to_end(self) -> dict:
        walls = {k: self.run.timed_walls(k) for k in ("scan", "range", "lookup", "takedown")}
        tail = layers.tail(walls["lookup"])
        return {
            "scan_s": (layers.median(walls["scan"]), "s"),
            "range_p50_s": (layers.median(walls["range"]), "s"),
            "lookup_p50_s": (layers.median(walls["lookup"]), "s"),
            # None until a run has eleven lookups: no percentile then has
            # ten samples beyond it
            "lookup_tail_s": (tail[1] if tail else None, "s"),
            "lookup_tail_pct": (tail[0] if tail else None, "%"),
            "lookup_samples": (len(walls["lookup"]), "count"),
            "takedown_s": (layers.median(walls["takedown"]), "s"),
        }

    def layer_metrics(self, tracer) -> dict:
        n = len(tracer.named("scan"))
        traced = self.takedowns[-n:]
        return {
            # payload MB the scan, window and lookup reads decode: Spark's
            # input metrics miss parquet's vectored reads
            "sink.read_mb": self.decoded_bytes / 1e6 / n,
            "prune.kept_ratio.range": layers.mean(self.kept["range"]),
            "prune.kept_ratio.lookup": layers.mean(self.kept["lookup"]),
            "bloom.false_positive_ratio": self.fp_hits[0] / self.fp_hits[1],
            "takedown.rewrite_ratio": layers.mean(
                [t["chunks_affected"] / t["chunks_total"] for t in traced]
            ),
        }


class IngestServe(Workload):
    """Per cycle one pages_ingest pass, then one sink_serve request
    sequence: the write side and the read side of the sink, each over its
    own input. They share a run so that both fit the benchmark's time with
    enough timed cycles; a run's fixed cost (the JVM's start and its first,
    cold cycle) is most of a run."""

    name = "ingest_serve"
    bloom_column = "url"
    # cycles run about 12.5 s cold, then 9.3 and 8.8 s on a 4-core host
    cycle_s = 8.75

    def __init__(self, run) -> None:
        super().__init__(run)
        self.ingest = PagesIngest(run)
        self.serve = SinkServe(run)

    @property
    def first_sig(self):
        return self.ingest.first_sig

    def build(self) -> None:
        self.ingest.build()
        self.serve.build()

    def cycle(self, i: int) -> None:
        self.ingest.cycle(i)
        self.serve.cycle(i)

    def sample_chunk(self):
        return self.ingest.sample_chunk()

    def end_to_end(self) -> dict:
        return self.ingest.end_to_end() | self.serve.end_to_end()

    def layer_metrics(self, tracer) -> dict:
        return self.ingest.layer_metrics(tracer) | self.serve.layer_metrics(tracer)


class DedupPipeline(Workload):
    """minhash_signatures -> lsh_band_pairs -> duplicate_clusters_star over
    pages text with planted near-duplicate groups, each stage materialised
    with localCheckpoint()."""

    name = "dedup_pipeline"
    bloom_column = "doc_id"
    n_docs = 2_000
    n_groups = 25
    # the JVM compiles Spark's planner and scheduler for many cycles: about
    # 10.5 s cold, then 6, 5.2 and 4.8 s on a 4-core host
    cycle_s = 5.0

    def build(self) -> None:
        self.docs = str(self.work / "docs")
        step = self.n_docs // self.n_groups
        offset = self.rng.randrange(step)
        pages = synthesize_pages(self.spark, self.n_docs, seed=self.run.seed)
        base = pages.select(
            F.regexp_extract("url", r"/p(\d+)\.html$", 1).cast("long").alias("doc_id"),
            "text",
        )
        planted = base.filter(F.col("doc_id") % step == offset).withColumn(
            "j", ((F.col("doc_id") - offset) / step).cast("long")
        )

        def marker(tag: str):
            # a token no vocabulary word can equal: it holds digits
            return F.concat(F.lit("zz"), F.col("j").cast("string"), F.lit(tag))

        # two variants per planted doc: its last or its first word replaced
        v1 = planted.select(
            (F.lit(self.n_docs) + 2 * F.col("j")).alias("doc_id"),
            F.regexp_replace("text", r"\S+$", marker("a")).alias("text"),
        )
        v2 = planted.select(
            (F.lit(self.n_docs) + 2 * F.col("j") + 1).alias("doc_id"),
            F.regexp_replace("text", r"^\S+", marker("b")).alias("text"),
        )
        base.unionByName(v1).unionByName(v2).write.parquet(self.docs)
        self.planted = {
            j * step + offset: frozenset(
                (j * step + offset, self.n_docs + 2 * j, self.n_docs + 2 * j + 1)
            )
            for j in range(self.n_groups)
        }
        self.edges = []

    def cycle(self, i: int) -> None:
        run, tr = self.run, self.run.tracer
        with run.op("dedup") as op:
            docs = self.spark.read.parquet(self.docs)
            with tr.span("dedup.signatures"):
                sig = minhash_signatures(docs).localCheckpoint()
            with tr.span("dedup.pairs"):
                pairs = lsh_band_pairs(sig).localCheckpoint()
            with tr.span("dedup.cc"):
                rows = duplicate_clusters_star(pairs).localCheckpoint().collect()
        clusters = defaultdict(set)
        for r in rows:
            clusters[r["cluster_rep"]].add(r["doc_id"])
        got = {rep: frozenset(m) for rep, m in clusters.items()}
        op.check(
            got == self.planted,
            f"{len(got)} clusters found, {len(self.planted)} planted "
            f"({sum(got.get(k) != v for k, v in self.planted.items())} differ)",
        )
        member_of = {d: rep for rep, m in self.planted.items() for d in m}
        edges = pairs.select("doc_a", "doc_b").collect()
        planted_found = sum(
            1 for e in edges
            if member_of.get(e["doc_a"], -1) == member_of.get(e["doc_b"], -2)
        )
        self.edges.append((len(edges), planted_found))

    def sample_chunk(self):
        return (
            self.spark.read.parquet(self.docs)
            .orderBy("doc_id").limit(layers.SAMPLE_ROWS).toArrow()
        )

    def layer_metrics(self, tracer) -> dict:
        n = len(tracer.named("dedup"))
        traced = self.edges[-n:]
        spans = [s for s in tracer.spans if s["name"].startswith("dedup.")]
        return {
            "scan.input_mb": sum(p.stat().st_size for p in Path(self.docs).glob("*.parquet")) / 1e6,
            "scan.cpu_s": layers.stages(spans, "cpu_s", layers.is_source) / n,
            "dedup.signatures_s": layers.span_s(tracer.named("dedup.signatures")) / n,
            "dedup.pairs_s": layers.span_s(tracer.named("dedup.pairs")) / n,
            "dedup.cc_s": layers.span_s(tracer.named("dedup.cc")) / n,
            "dedup.candidate_edges": layers.mean([e for e, _ in traced]),
            "dedup.pair_precision": (
                sum(f for _, f in traced) / max(1, sum(e for e, _ in traced))
            ),
            "dedup.shuffle_write_mb": layers.stages(spans, "shuffle_write_mb") / n,
        }


WORKLOADS = {w.name: w for w in (IngestServe, DedupPipeline)}


def _xor(values) -> int:
    x = 0
    for v in values:
        x ^= v
    return x


def _count_between(sorted_ts: list[int], lo: int, hi: int) -> int:
    return bisect.bisect_right(sorted_ts, hi) - bisect.bisect_left(sorted_ts, lo)
