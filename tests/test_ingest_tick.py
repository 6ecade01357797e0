"""Incremental ingest into the chunk sink: waves appended through
lineage.append_encoded and Iceberg snapshot diffs ingested by
lineage.iceberg_ingest_tick. Either way the sink holds each chunk exactly
once and decodes bit-identical."""

import pytest
from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.operators.encode import codec_metrics, verify_roundtrip
from hadoop_etl_udfs_spark.plans import lineage
from hadoop_etl_udfs_spark.sources.pages import synthesize_pages


@pytest.mark.parametrize("cluster_by", [None, "warc_ts"])
def test_two_wave_append_encoded(spark, tmp_path, cluster_by):
    """Two waves appended through append_encoded, unclustered and
    cluster-stamped: exactly-once chunks across the waves, bit-identical
    decode, blooms on every chunk of both waves; with cluster_by, stamps
    on every chunk row and a range decode over the appended sink."""
    out_dir = str(tmp_path / "out")
    wave1 = synthesize_pages(spark, 1000, seed=5).cache()
    wave2 = synthesize_pages(spark, 2200, seed=5).filter(
        F.xxhash64("url") % 2 == 0
    ).cache()
    for wave in (wave1, wave2):
        lineage.append_encoded(
            wave, out_dir, cluster_by=cluster_by, bloom_by=["url"]
        )
        assert lineage.read_manifest(spark, out_dir).count() > 0

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
    # every chunk of every wave carries a bloom, and a point lookup over
    # the appended sink works
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
        # every chunk row of both waves carries [cluster_lo, cluster_hi]
        # and a range decode over the appended sink finds the in-range rows
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
    wave1.unpersist(), wave2.unpersist()


def test_iceberg_ingest_tick_exactly_once_even_with_crashed_tick(spark, tmp_path):
    """The ingestion daemon loop: each tick encodes exactly the Iceberg
    snapshot diff; a tick that crashed AFTER the encode-append but BEFORE
    the watermark write is replayed safely — the content-addressed skip-set
    drops every already-committed chunk, so the sink converges to
    exactly-once no matter where a tick died."""
    import json as _json

    from hadoop_etl_udfs_spark.operators.encode import verify_roundtrip
    from hadoop_etl_udfs_spark.sources.iceberg_lite import write_iceberg_table
    from hadoop_etl_udfs_spark.plans.lineage import iceberg_ingest_tick

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
    from hadoop_etl_udfs_spark.plans.lineage import iceberg_ingest_tick

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
    from hadoop_etl_udfs_spark.plans.lineage import iceberg_ingest_tick

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
    from hadoop_etl_udfs_spark.plans.lineage import iceberg_ingest_tick

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


def test_tick_reads_its_diff_once(spark, tmp_path):
    """A non-noop tick over a non-empty sink runs five Spark jobs: three
    for the skip set's manifest collect and two for the encode-append
    write. ``rows`` rides on the write as an observed metric; the
    ``diff.count()`` it replaces re-read the Iceberg data files in two
    more jobs. A tick over an empty commit reports 0 rows."""
    from hadoop_etl_udfs_spark.plans.lineage import iceberg_ingest_tick
    from hadoop_etl_udfs_spark.sources.iceberg_lite import write_iceberg_table

    sc = spark.sparkContext
    tbl, sink = str(tmp_path / "tbl"), str(tmp_path / "sink")
    w1 = synthesize_pages(spark, 500, seed=3).cache()
    w2 = synthesize_pages(spark, 900, seed=3).exceptAll(w1).cache()
    write_iceberg_table(w1, tbl, mode="overwrite")
    assert iceberg_ingest_tick(spark, tbl, sink)["rows"] == 500
    write_iceberg_table(w2, tbl, mode="append")
    sc.setJobGroup("tick", "tick")
    try:
        t2 = iceberg_ingest_tick(spark, tbl, sink)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("tick"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert t2["rows"] == w2.count() and not t2["noop"]
    assert n_jobs == 5
    write_iceberg_table(w2.limit(0), tbl, mode="append")
    t3 = iceberg_ingest_tick(spark, tbl, sink)
    assert t3["rows"] == 0 and not t3["noop"]
    w1.unpersist(), w2.unpersist()
