"""Streaming incremental encode: files arrive in two waves; the sink must
contain each chunk exactly once and decode bit-identical."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.operators.encode import codec_metrics, verify_roundtrip
from hadoop_etl_udfs_spark.plans import lineage
from hadoop_etl_udfs_spark.sources.pages import synthesize_pages
from hadoop_etl_udfs_spark.streaming.encode_stream import start_encode_stream


import pytest


@pytest.mark.parametrize("cluster_by", [None, "warc_ts"])
def test_streaming_incremental_encode(spark, cluster_by):
    """Both the default (unclustered) streaming path and the
    cluster-stamped variant: exactly-once chunks across two waves,
    bit-identical decode; with cluster_by, stamps on every chunk row and a
    range decode over the micro-batch-built sink."""
    base = tempfile.mkdtemp(prefix="stream_")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir)
    try:
        wave1 = synthesize_pages(spark, 1000, seed=5).cache()
        wave2 = synthesize_pages(spark, 2200, seed=5).filter(
            F.xxhash64("url") % 2 == 0
        ).cache()
        wave1.coalesce(1).write.parquet(os.path.join(in_dir, "w1"))

        q = start_encode_stream(
            spark, in_dir + "/*", out_dir, ckpt, cluster_by=cluster_by,
            bloom_by=["url"],
        )
        q.processAllAvailable()
        q.stop()
        n1 = lineage.read_manifest(spark, out_dir).select("chunk_id").distinct().count()
        assert n1 > 0

        wave2.coalesce(1).write.parquet(os.path.join(in_dir, "w2"))
        q = start_encode_stream(
            spark, in_dir + "/*", out_dir, ckpt, cluster_by=cluster_by,
            bloom_by=["url"],
        )
        q.processAllAvailable()
        q.stop()

        enc = lineage.read_encoded(spark, out_dir)
        # each (chunk, column) exactly once — no duplicate encodes
        dupes = (
            enc.groupBy("chunk_id", "column").count().filter(F.col("count") > 1).count()
        )
        assert dupes == 0
        # decoded union is bit-identical to the union of the two waves
        all_pages = wave1.union(wave2)
        result = verify_roundtrip(all_pages, enc)
        assert result["ok"], result
        metrics = codec_metrics(lineage.read_manifest(spark, out_dir))
        assert metrics.count() >= 5
        # blooms stamp on the streaming path exactly like batch: every
        # chunk of every wave carries one, and a point lookup over the
        # micro-batch-built sink works
        assert lineage.sink_bloom_columns(enc) == ["url"]
        probe_url = (
            wave1.filter(F.xxhash64("url") % 2 != 0).select("url").first()[0]
        )  # wave-1-only: wave2 re-synthesizes the even-hash half
        got_rows = lineage.decode_chunks_where_key_in(
            spark, out_dir, "url", [probe_url]
        )
        assert got_rows.count() == 1
        if cluster_by is None:
            # default path: no stamps, clustered decode refuses loudly
            assert enc.filter(F.col("cluster_lo").isNotNull()).count() == 0
            with pytest.raises(ValueError, match="no non-NULL cluster stamps"):
                lineage.decode_chunks_where_clustered(spark, out_dir, 0, 1)
        else:
            # cluster-stamped like the batch path: every chunk row carries
            # [cluster_lo, cluster_hi] and a range decode over the
            # micro-batch-built sink finds the in-range rows
            assert enc.filter(F.col("cluster_lo").isNull()).count() == 0
            lo = all_pages.agg(
                F.min(F.unix_micros("warc_ts")).alias("lo")
            ).collect()[0]["lo"]
            dec = lineage.decode_chunks_where_clustered(spark, out_dir, lo, lo)
            got = {r["url"] for r in dec.collect()}
            want = {
                r["url"]
                for r in all_pages.filter(F.unix_micros("warc_ts") == lo).collect()
            }
            assert want <= got
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_live_streaming_sink_decodes_atomically_mid_stream(spark):
    """Round-3 verdict item 7: a LIVE streaming sink — read between
    micro-batches while the query is still running — must always decode
    consistently via the grouped path. The atomicity unit is the chunk: a
    concurrent reader may see a prefix of the committed micro-batches, but
    every chunk it sees must be COMPLETE (all 5 column rows present) and
    value-correct; an in-flight chunk is absent, never partial. (The sink
    guarantees this structurally: one encode task writes a chunk's column
    rows consecutively into one parquet file, and uncommitted job output
    lives under _temporary, which readers skip.)"""
    from hadoop_etl_udfs_spark.operators.encode import decode_chunks

    base = tempfile.mkdtemp(prefix="livestream_")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir)
    try:
        n_waves, per_wave = 8, 600
        all_pages = synthesize_pages(spark, n_waves * per_wave, seed=7).cache()
        expected = {
            r["url"]: r["text"] for r in all_pages.select("url", "text").collect()
        }
        for w in range(n_waves):
            all_pages.filter(
                F.pmod(F.xxhash64("url"), F.lit(n_waves)) == w
            ).coalesce(1).write.parquet(os.path.join(in_dir, f"w{w}"))

        q = start_encode_stream(
            spark, in_dir + "/*", out_dir, ckpt, max_files_per_trigger=1
        )
        mid_reads = 0
        try:
            while q.isActive:
                try:
                    man = lineage.read_manifest(spark, out_dir)
                    arity = man.groupBy("chunk_id").count()
                    partial = arity.filter(F.col("count") != 5).count()
                    n_chunks = arity.count()
                except Exception:
                    continue  # sink dir not created yet — "absent" is legal
                if not q.isActive:
                    break  # this snapshot isn't mid-stream; the final check follows
                assert partial == 0, (
                    f"torn chunk visible mid-stream: {partial} of {n_chunks} "
                    "chunks have missing column rows"
                )
                if n_chunks == 0:
                    continue
                got = {
                    r["url"]: r["text"]
                    for r in decode_chunks(lineage.read_encoded(spark, out_dir))
                    .select("url", "text").collect()
                }
                assert all(expected[u] == t for u, t in got.items())
                mid_reads += 1
        finally:
            q.awaitTermination(180)
            q.stop()
        assert mid_reads >= 2, "stream finished before any mid-stream read"
        # drained: the union of micro-batches decodes bit-identical
        res = verify_roundtrip(all_pages, lineage.read_encoded(spark, out_dir))
        assert res["ok"], res
    finally:
        all_pages.unpersist()
        shutil.rmtree(base, ignore_errors=True)


def test_decode_stream_consumes_sink_exactly_once(spark):
    """Decode-side streaming: a readStream over the chunk sink emits decoded
    rows as chunks commit; a second wave appended to the sink streams out
    exactly once (file-source checkpoint), total = bit-identical union."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.streaming.encode_stream import start_decode_stream

    base = tempfile.mkdtemp(prefix="decstream_")
    sink = os.path.join(base, "sink")
    out = os.path.join(base, "decoded")
    ckpt = os.path.join(base, "ckpt")
    try:
        w1 = synthesize_pages(spark, 500, seed=31).cache()
        w2 = synthesize_pages(spark, 1100, seed=31).exceptAll(w1).cache()
        lineage.write_encoded(encode_pages(w1), sink, mode="append")
        q = start_decode_stream(spark, sink, out, ckpt)
        assert q.awaitTermination(180)
        got1 = spark.read.parquet(out)
        assert got1.count() == 500
        assert got1.exceptAll(w1).count() == 0 and w1.exceptAll(got1).count() == 0

        done = lineage.completed_chunk_ids(spark, sink, n_columns=5)
        lineage.write_encoded(
            encode_pages(w2, skip_chunk_ids=done), sink, mode="append"
        )
        q = start_decode_stream(spark, sink, out, ckpt)
        assert q.awaitTermination(180)
        got = spark.read.parquet(out)
        both = w1.unionAll(w2)
        assert got.count() == both.count()  # exactly once, no re-emits
        assert got.exceptAll(both).count() == 0 and both.exceptAll(got).count() == 0
    finally:
        w1.unpersist(), w2.unpersist()
        shutil.rmtree(base, ignore_errors=True)


def test_iceberg_ingest_tick_exactly_once_even_with_crashed_tick(spark, tmp_path):
    """The ingestion daemon loop: each tick encodes exactly the Iceberg
    snapshot diff; a tick that crashed AFTER the encode-append but BEFORE
    the watermark write is replayed safely — the content-addressed skip-set
    drops every already-committed chunk, so the sink converges to
    exactly-once no matter where a tick died."""
    import json as _json

    from hadoop_etl_udfs_spark.operators.encode import verify_roundtrip
    from hadoop_etl_udfs_spark.sources.iceberg_lite import write_iceberg_table
    from hadoop_etl_udfs_spark.streaming.encode_stream import iceberg_ingest_tick

    tbl = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    w1 = synthesize_pages(spark, 400, seed=81).cache()
    w2 = synthesize_pages(spark, 900, seed=81).exceptAll(w1).cache()

    write_iceberg_table(w1, tbl, mode="overwrite")
    t1 = iceberg_ingest_tick(spark, tbl, sink)
    assert not t1["noop"] and t1["rows"] == 400 and t1["to_snapshot"] == 1
    # idle tick: no new commit -> noop, nothing written
    assert iceberg_ingest_tick(spark, tbl, sink)["noop"]

    write_iceberg_table(w2, tbl, mode="append")
    t2 = iceberg_ingest_tick(spark, tbl, sink)
    assert not t2["noop"] and t2["rows"] == w2.count()

    # simulate the crash window: roll the watermark BACK to snapshot 1 (as
    # if tick 2 died before writing it) and replay — every chunk skips
    with open(f"{sink}/_iceberg_watermark.json", "w") as f:
        _json.dump({"snapshot_id": 1}, f)
    t3 = iceberg_ingest_tick(spark, tbl, sink)
    assert not t3["noop"] and t3["rows"] == w2.count()

    enc = lineage.read_encoded(spark, sink)
    dupes = (
        enc.groupBy("chunk_id", "column").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0
    assert verify_roundtrip(w1.unionAll(w2), enc)["ok"]
    # watermark restored to the table head; next tick is a noop again
    assert iceberg_ingest_tick(spark, tbl, sink)["noop"]
    w1.unpersist(), w2.unpersist()


def test_decode_stream_refuses_column_partitioned_sink(spark, tmp_path):
    """A column-partitioned sink tears chunks across files at micro-batch
    boundaries and would stream out NULL-filled rows forever — the decode
    stream must refuse it loudly, not decode it wrong."""
    import pytest as _pytest

    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.streaming.encode_stream import start_decode_stream

    sink = str(tmp_path / "colsink")
    pages = synthesize_pages(spark, 200, seed=61)
    lineage.write_encoded(
        encode_pages(pages), sink, mode="append", partition_by_column=True
    )
    with _pytest.raises(ValueError, match="column-partitioned"):
        start_decode_stream(
            spark, sink, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )


def test_ingest_tick_survives_expired_watermark_snapshot(spark, tmp_path):
    """Running the documented maintenance job (expire_snapshots) against an
    ingested table must not brick the ingestion daemon (ADVICE r4): when
    the watermark snapshot has been expired, the tick recovers via the
    recorded ingested-file set (immutable-file identity), replaying exactly
    the unseen files — same rows, same chunking, sink stays duplicate-free
    and complete. (A full-table re-read would NOT be safe: old+new rows
    would shuffle into different chunks and duplicate — this test caught
    exactly that in an earlier fallback design.)"""
    from hadoop_etl_udfs_spark.operators.encode import verify_roundtrip
    from hadoop_etl_udfs_spark.sources.iceberg_lite import (
        expire_snapshots,
        write_iceberg_table,
    )
    from hadoop_etl_udfs_spark.streaming.encode_stream import iceberg_ingest_tick

    tbl = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    w1 = synthesize_pages(spark, 300, seed=91).cache()
    w2 = synthesize_pages(spark, 700, seed=91).exceptAll(w1).cache()

    write_iceberg_table(w1, tbl, mode="overwrite")
    t1 = iceberg_ingest_tick(spark, tbl, sink)
    assert not t1["noop"] and t1["to_snapshot"] == 1
    write_iceberg_table(w2, tbl, mode="append")
    write_iceberg_table(w2.limit(0), tbl, mode="append")  # snap 3 (empty)
    # maintenance expires the watermark snapshot (1) — only snap 3 is kept
    assert expire_snapshots(tbl, keep_last=1)["expired_snapshots"] == 2

    t2 = iceberg_ingest_tick(spark, tbl, sink)
    assert not t2["noop"]
    assert t2.get("watermark_expired_file_diff") is True
    enc = lineage.read_encoded(spark, sink)
    dupes = (
        enc.groupBy("chunk_id", "column").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0
    assert verify_roundtrip(w1.unionAll(w2), enc)["ok"]
    # watermark advanced to the head; next tick is a clean noop
    assert iceberg_ingest_tick(spark, tbl, sink)["noop"]
    w1.unpersist(), w2.unpersist()


def test_tick_and_batch_encode_share_chunk_ids(spark, tmp_path):
    """The ingestion tick and a batch encode of the same Iceberg table must
    produce IDENTICAL content-addressed chunk ids (r4 verdict item 4): a
    sink fed by both entry points then has full resume-skip overlap. The
    session half of the guarantee is get_job_spark, which pins the Arrow
    batch size (= chunk size) for spark-submit jobs to the same
    DEFAULT_CHUNK_ROWS every API session uses."""
    import inspect

    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.session import DEFAULT_CHUNK_ROWS, get_job_spark
    from hadoop_etl_udfs_spark.sources.iceberg_lite import (
        read_iceberg,
        write_iceberg_table,
    )
    from hadoop_etl_udfs_spark.streaming.encode_stream import iceberg_ingest_tick

    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 500, seed=77).cache()
    write_iceberg_table(pages, tbl, mode="overwrite")

    sink_tick = str(tmp_path / "sink_tick")
    iceberg_ingest_tick(spark, tbl, sink_tick)
    sink_batch = str(tmp_path / "sink_batch")
    enc = encode_pages(read_iceberg(spark, tbl), salt_buckets=8)
    lineage.write_encoded(enc, sink_batch, mode="overwrite")

    ids_tick = {
        r["chunk_id"]
        for r in lineage.read_manifest(spark, sink_tick).select("chunk_id").collect()
    }
    ids_batch = {
        r["chunk_id"]
        for r in lineage.read_manifest(spark, sink_batch).select("chunk_id").collect()
    }
    assert ids_tick == ids_batch and ids_tick
    # the job-session helper pins the Arrow batch size jobs encode with,
    # through the SAME shared conf block every API session uses
    from hadoop_etl_udfs_spark.session import _engine_confs, get_spark

    sig = inspect.signature(get_job_spark)
    assert sig.parameters["chunk_rows"].default == DEFAULT_CHUNK_ROWS
    assert "maxRecordsPerBatch" in inspect.getsource(_engine_confs)
    assert "_engine_confs" in inspect.getsource(get_job_spark)
    assert "_engine_confs" in inspect.getsource(get_spark)
    import jobs.iceberg_ingest_job as _ij
    import jobs.encode_job as _ej
    assert "get_job_spark" in inspect.getsource(_ij)
    assert "get_job_spark" in inspect.getsource(_ej)
    pages.unpersist()


def test_iceberg_ingest_tick_non_pages_table_with_partition_cols(spark, tmp_path):
    """Round 6: the ingestion loop over a NON-pages Iceberg table — the
    embeddings shape (long, list<float>, int) — using partition_cols as the
    co-location key. Two commits ingest exactly-once, replay skips, and
    the decoded sink equals the full table bit-identically through the
    flist codec path."""
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.encode import decode_chunks
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.iceberg_lite import write_iceberg_table
    from hadoop_etl_udfs_spark.streaming.encode_stream import iceberg_ingest_tick

    tbl = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    first = emb.filter(F.col("vec_id") < 250)

    write_iceberg_table(first, tbl, mode="overwrite")
    t1 = iceberg_ingest_tick(spark, tbl, sink, partition_cols=["vec_id"])
    assert not t1["noop"] and t1["rows"] == first.count()

    write_iceberg_table(
        emb.filter(F.col("vec_id") >= 250), tbl, mode="append"
    )
    t2 = iceberg_ingest_tick(spark, tbl, sink, partition_cols=["vec_id"])
    assert not t2["noop"] and t2["rows"] == emb.count() - first.count()

    schema = "vec_id bigint, embedding array<float>, label int"
    dec = decode_chunks(lineage.read_encoded(spark, sink), schema=schema)
    assert dec.orderBy("vec_id").collect() == emb.orderBy("vec_id").collect()

    # replayed tick after a rolled-back watermark: exact chunk skip
    import json as _json
    with open(f"{sink}/_iceberg_watermark.json", "w") as f:
        _json.dump({"snapshot_id": 1}, f)
    n_before = lineage.read_manifest(spark, sink).select("chunk_id").distinct().count()
    t3 = iceberg_ingest_tick(spark, tbl, sink, partition_cols=["vec_id"])
    assert not t3["noop"]
    n_after = lineage.read_manifest(spark, sink).select("chunk_id").distinct().count()
    assert n_after == n_before  # nothing re-encoded
    emb.unpersist()


def test_streaming_curated_encode_matches_batch_sample(spark, tmp_path):
    """Streaming curation gate (r7): across two waves, the curated
    streaming sink decodes to EXACTLY the batch stratified sample of the
    union — membership is a pure function of doc_id, so the gate needs no
    streaming state and replays/growth cannot change old decisions."""
    from hadoop_etl_udfs_spark.operators.curation import stratified_sample_df
    from hadoop_etl_udfs_spark.operators.encode import decode_chunks
    from hadoop_etl_udfs_spark.streaming.encode_stream import (
        DOCUMENTS_SCHEMA,
        start_curated_encode_stream,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).cache()
    w1 = docs.filter(F.col("doc_id") % 2 == 0)
    w2 = docs.filter(F.col("doc_id") % 2 == 1)
    w1.coalesce(1).write.parquet(in_dir + "/w1")
    q = start_curated_encode_stream(spark, in_dir + "/*", out_dir, ckpt)
    q.processAllAvailable(); q.stop()
    w2.coalesce(1).write.parquet(in_dir + "/w2")
    q = start_curated_encode_stream(spark, in_dir + "/*", out_dir, ckpt)
    q.processAllAvailable(); q.stop()

    dec = decode_chunks(
        lineage.read_encoded(spark, out_dir), schema=DOCUMENTS_SCHEMA
    )
    got = [r["doc_id"] for r in dec.select("doc_id").collect()]
    want = {
        r["doc_id"]
        for r in stratified_sample_df(docs).select("doc_id").collect()
    }
    assert len(got) == len(set(got))          # no duplicate docs across waves
    assert set(got) == want and len(want) > 0  # exactly the batch sample
    # gated-out docs cost no sink bytes: the sink holds fewer rows than in
    assert len(got) < docs.count()
    docs.unpersist()


def test_streaming_repetition_gate_matches_batch_composition(spark, tmp_path):
    """The round-8 repetition gate on the ingest path: across two waves,
    the gated streaming sink decodes to EXACTLY the batch composition
    (stratified sample minus repetition-flagged docs) of the union. The
    repetition signals are INTRA-document — a pure function of each doc's
    own text — so batch boundaries cannot change any verdict and the gate
    needs no streaming state. Planted corpus (the sf corpora barely heat
    the flag): repetition-dominated docs that survive the sample gate
    must be absent from the sink; clean sampled docs must all arrive."""
    from hadoop_etl_udfs_spark.operators import textstats
    from hadoop_etl_udfs_spark.operators.curation import stratified_sample_df
    from hadoop_etl_udfs_spark.operators.encode import decode_chunks
    from hadoop_etl_udfs_spark.streaming.encode_stream import (
        DOCUMENTS_SCHEMA,
        start_curated_encode_stream,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    seg = " ".join(f"r{j}" for j in range(textstats.SEGMENT_WORDS))
    rows = [
        (1000 + i, f"{seg} {seg} {seg} {seg} tail{i}", "de", "s1")
        for i in range(12)
    ] + [
        (3000 + i, " ".join(f"p{i}w{j}" for j in range(25)), "de", "s2")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA).cache()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        in_dir + "/w1"
    )
    q = start_curated_encode_stream(
        spark, in_dir + "/*", out_dir, ckpt, repetition_gate=True
    )
    q.processAllAvailable(); q.stop()
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        in_dir + "/w2"
    )
    q = start_curated_encode_stream(
        spark, in_dir + "/*", out_dir, ckpt, repetition_gate=True
    )
    q.processAllAvailable(); q.stop()

    sampled = stratified_sample_df(docs).localCheckpoint()
    flagged = {
        r["doc_id"]
        for r in textstats.repetition_signals_df(sampled)
        .filter(F.col("repetition_flag"))
        .select("doc_id")
        .collect()
    }
    want = {
        r["doc_id"] for r in sampled.select("doc_id").collect()
    } - flagged
    assert flagged and all(1000 <= d < 2000 for d in flagged)  # gate hot
    assert want and any(d >= 3000 for d in want)

    dec = decode_chunks(
        lineage.read_encoded(spark, out_dir), schema=DOCUMENTS_SCHEMA
    )
    got = [r["doc_id"] for r in dec.select("doc_id").collect()]
    assert len(got) == len(set(got))
    assert set(got) == want
    docs.unpersist()
