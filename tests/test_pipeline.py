"""Spark pipeline tests: generator determinism, end-to-end bit-identical
round trip (the north-rule gate), lineage resume, global dictionaries.

Mirrors the reference's test families (SURVEY.md §5): round-trip = family 2,
deterministic synthetic input = family 1, manifest/resume = family 3.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hadoop_etl_udfs_spark.codecs import decode_array, encode_array
from hadoop_etl_udfs_spark.operators.encode import (
    codec_metrics,
    decode_chunks,
    encode_pages,
    subset_schema,
    verify_roundtrip,
)
from hadoop_etl_udfs_spark.plans import globaldict, lineage
from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

N_DOCS = 3000


@pytest.fixture(scope="module")
def pages(spark):
    df = synthesize_pages(spark, n_docs=N_DOCS, seed=42).cache()
    df.count()
    yield df
    df.unpersist()


def test_generator_deterministic_across_partitionings(spark):
    a = synthesize_pages(spark, 500, seed=7, num_partitions=1)
    b = synthesize_pages(spark, 500, seed=7, num_partitions=13)
    fp = lambda df: df.select(
        F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]["h"]
    assert fp(a) == fp(b)
    # different seed -> different table
    c = synthesize_pages(spark, 500, seed=8, num_partitions=1)
    assert fp(a) != fp(c)


def test_generator_shape(pages):
    assert pages.count() == N_DOCS
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    # zipf skew: top host should dominate
    top = (
        pages.groupBy(F.regexp_extract("url", r"^https://([^/]+)", 1).alias("host"))
        .count().orderBy(F.desc("count")).first()
    )
    assert top["count"] > N_DOCS * 0.05
    langs = {r["lang"] for r in pages.select("lang").distinct().collect()}
    assert "en" in langs and len(langs) >= 4


def test_roundtrip_bit_identical(spark, pages):
    enc = encode_pages(pages).cache()
    try:
        result = verify_roundtrip(pages, enc)
        assert result["ok"], result
        # every chunk carries all five columns
        per_chunk = enc.groupBy("chunk_id").count().select("count").distinct().collect()
        assert [r["count"] for r in per_chunk] == [5]
    finally:
        enc.unpersist()


def test_metrics_rollup(spark, pages):
    enc = encode_pages(pages)
    m = {(r["column"], r["codec"]): r for r in codec_metrics(enc).collect()}
    assert sum(r["n_rows"] for r in m.values()) == N_DOCS * 5
    for (col, codec), r in m.items():
        assert r["bytes_out"] > 0
    # lang must compress heavily (sorted runs)
    lang_rows = [r for (c, _), r in m.items() if c == "lang"]
    assert sum(r["bytes_in"] for r in lang_rows) > 10 * sum(
        r["bytes_out"] for r in lang_rows
    )


def test_resume_skips_completed_chunks(spark, pages):
    out = tempfile.mkdtemp(prefix="lineage_")
    try:
        # first run: encode only half the table (simulated failure)
        first_half = pages.filter(F.xxhash64("url") % 2 == 0)
        enc1 = encode_pages(first_half, shuffle=True)
        lineage.write_encoded(enc1, out)
        done = lineage.completed_chunk_ids(spark, out, n_columns=5)
        assert len(done) > 0
        # resume over the SAME half: all chunks skipped, nothing re-encoded
        stats = lineage.encode_resumable(first_half, out)
        assert stats["chunks_skipped"] == len(done)
        assert stats["chunks_total"] == len(done)
        # decode from the sink: bit-identical to the half we encoded
        enc_read = lineage.read_encoded(spark, out)
        result = verify_roundtrip(first_half, enc_read)
        assert result["ok"], result
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_manifest_scan_prunes_payload(spark, pages):
    out = tempfile.mkdtemp(prefix="lineage_")
    try:
        lineage.write_encoded(encode_pages(pages), out)
        plan = lineage.read_manifest(spark, out)._jdf.queryExecution().executedPlan().toString()
        assert "payload" not in plan.split("ReadSchema")[-1][:400]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_global_dict_lang(spark, pages):
    gd = globaldict.build_global_dict(pages, "lang")
    assert len(gd[2]) <= 8
    gds = {"lang": gd}
    enc = encode_pages(pages, global_dicts=gds).cache()
    try:
        result = verify_roundtrip(pages, enc, global_dicts=gds)
        assert result["ok"], result
        # the broadcast dictionary is used, and every lang chunk stores
        # within 5% of its smallest candidate: on the smallest chunks
        # (~300 rows) raw+zstd really beats the uncompressed global codes
        lang = enc.filter(F.col("column") == "lang").select(
            "codec", "payload", "meta", "bytes_out"
        ).collect()
        assert "dict" in {r["codec"] for r in lang}
        for r in lang:
            arr = decode_array(bytes(r["payload"]), r["meta"], global_dict=gd)
            best = min(
                encode_array(arr, codec=c, global_dict=gd).bytes_out
                for c in ("raw", "dict", "rle")
            )
            assert r["bytes_out"] <= best * 1.05, (r["codec"], r["bytes_out"], best)
    finally:
        enc.unpersist()


def test_global_dict_save_load_roundtrip(spark, pages):
    out = tempfile.mkdtemp(prefix="gd_")
    try:
        gd = globaldict.build_global_dict(pages, "lang")
        globaldict.save_global_dict(gd, out, "lang")
        gd2 = globaldict.load_global_dict(out, "lang")
        assert gd2[2] == gd[2]
        assert (gd2[0] == gd[0]).all() and (gd2[1] == gd[1]).all()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_colocated_decode_matches_grouped(spark, pages):
    import tempfile as _tf

    from hadoop_etl_udfs_spark.operators.encode import decode_chunks_colocated

    out = _tf.mkdtemp(prefix="coloc_")
    try:
        lineage.write_encoded(encode_pages(pages), out)
        enc = lineage.read_encoded_colocated(spark, out)
        dec = decode_chunks_colocated(enc)
        fp = lambda df: df.select(
            F.bit_xor(F.xxhash64(*df.columns)).alias("h")
        ).collect()[0]["h"]
        assert fp(dec) == fp(pages)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_duplicated_sink_detection_and_grouped_dedupe(spark, pages):
    """ADVICE round 1: resume over drifted input can append a chunk twice.
    sink_has_duplicates must flag it and decode_chunks must dedupe inside
    the group (first copy wins — copies are content-identical)."""
    out = tempfile.mkdtemp(prefix="dup_")
    try:
        enc = encode_pages(pages)
        lineage.write_encoded(enc, out)
        assert not lineage.sink_has_duplicates(spark, out)
        # append the whole sink again: every (chunk_id, column) now x2
        lineage.write_encoded(encode_pages(pages), out, mode="append")
        assert lineage.sink_has_duplicates(spark, out)
        dec = decode_chunks(lineage.read_encoded(spark, out))
        assert dec.count() == pages.count()
        result = verify_roundtrip(pages, lineage.read_encoded(spark, out))
        assert result["ok"], result
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resume_takes_arity_from_input(spark, tmp_path):
    """A chunk is complete when it has a row for every column of the job's
    OWN input: resuming a 4-column job skips every chunk, appends nothing."""
    out = str(tmp_path / "four")
    four = synthesize_pages(spark, 600, seed=31).drop("html")
    first = lineage.encode_resumable(four, out, salt_buckets=1)
    again = lineage.encode_resumable(four, out, salt_buckets=1)
    assert 0 < first["chunks_total"] == again["chunks_total"]
    assert again["chunks_skipped"] == again["chunks_total"]
    assert not lineage.sink_has_duplicates(spark, out)


def test_sink_reader_declares_schema(spark, tmp_path):
    """read_encoded reads with the declared sink schema: no Spark job (no
    inference), the schema's column order (``column`` last on a
    column-partitioned sink), and a warm 4-chunk bloom lookup runs <= 3:
    the key scan and the grouped decode of its hit chunks."""
    from hadoop_etl_udfs_spark.operators.encode import ENCODED_SCHEMA

    sc, out, part = spark.sparkContext, str(tmp_path / "s"), str(tmp_path / "p")

    def jobs(fn) -> int:
        sc.setJobGroup("counted", "counted")
        try:
            fn()
            return len(sc.statusTracker().getJobIdsForGroup("counted"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    pages = synthesize_pages(spark, 4000, seed=7).localCheckpoint()
    lineage.write_encoded(encode_pages(
        pages.repartitionByRange(4, "warc_ts"), shuffle=False,
        cluster_by="warc_ts", bloom_by=["url"],
    ), out)
    assert jobs(lambda: lineage.read_encoded(spark, out)) == 0
    assert jobs(lambda: lineage.read_encoded_colocated(spark, out)) == 0
    names = ENCODED_SCHEMA.fieldNames()
    assert lineage.read_encoded(spark, out).columns == names
    lineage.write_encoded(
        lineage.read_encoded(spark, out), part, partition_by_column=True
    )
    assert lineage.read_encoded(spark, part).columns == (
        [n for n in names if n != "column"] + ["column"]
    )
    url = pages.first()["url"]
    lookup = lambda: lineage.decode_chunks_where_key_in(
        spark, out, "url", [url]
    ).collect()
    assert [r["url"] for r in lookup()] == [url]  # cold
    assert jobs(lookup) <= 3


def test_column_subset_decode_of_parenthesized_types(spark, tmp_path):
    """subset_schema parses the DDL: a decimal(36,5) or struct type's own
    commas must not cut it, so a column-subset read decodes a decimal
    column bit-identically (struct columns have no chunk codec; their DDL
    is checked alone)."""
    from decimal import Decimal

    wide = "a long, s struct<x:int,y:int>, d decimal(10,2), v array<float>"
    assert StructType.fromDDL(subset_schema(["d", "s"], wide)) == (
        StructType.fromDDL("s struct<x:int,y:int>, d decimal(10,2)")
    )
    ddl = "id long, d decimal(36,5), v string"
    rows = [
        (i, None if i % 7 == 0 else Decimal(f"{(-1) ** i * i * 10**25}.{i:05d}"),
         f"v{i}")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ddl)
    out = str(tmp_path / "dec")
    lineage.write_encoded(encode_pages(df, partition_cols=["id"]), out)
    enc = lineage.read_encoded(spark, out).filter(F.col("column").isin(["d"]))
    got = decode_chunks(enc, schema=subset_schema(["d"], ddl))
    want = df.select("d")
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_encode_rejects_unsupported_type_on_driver(spark):
    """A column the chunk codecs cannot encode (a struct) fails when
    encode_pages is called: a driver-side ValueError before any Spark job
    runs, not a PythonException from inside the write job."""
    df = spark.createDataFrame([(1, (1, 2))], "id long, s struct<x:int,y:int>")
    jsc = spark.sparkContext._jsc.sc()

    def n_jobs() -> int:
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore().jobsList(None).size()

    before = n_jobs()
    with pytest.raises(ValueError, match="unsupported chunk type.*'s'"):
        encode_pages(df, partition_cols=["id"])
    assert n_jobs() == before


def test_every_sink_append_goes_through_append_encoded():
    """Only plans/lineage.py may collect the skip set or pass it on: every
    other append calls lineage.append_encoded, so the
    resume contract is written once."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    owner = root / "hadoop_etl_udfs_spark" / "plans" / "lineage.py"
    bad = []
    for top in ("hadoop_etl_udfs_spark", "jobs"):
        for path in sorted((root / top).rglob("*.py")):
            if path == owner:
                continue
            for node in ast.walk(ast.parse(path.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name == "completed_chunk_ids" or any(
                    k.arg == "skip_chunk_ids" for k in node.keywords
                ):
                    bad.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not bad, f"re-inlined resumable append at {bad}"


def _sink_state(spark, out):
    """(chunk id -> (distinct column rows, rows), decoded full-row hashes)
    of the sink, both from ONE listing of its files."""
    enc = lineage.read_encoded(spark, out)
    chunks = {
        r["chunk_id"]: (r["n_cols"], r["n_rows"])
        for r in enc.groupBy("chunk_id")
        .agg(F.countDistinct("column").alias("n_cols"),
             F.max("n_rows").alias("n_rows")).collect()
    }
    return chunks, _row_hashes(decode_chunks(enc))


def _row_hashes(df) -> list:
    return [r[0] for r in df.select(F.xxhash64(*df.columns)).collect()]


def test_append_is_chunk_atomic_to_a_concurrent_reader(spark, tmp_path):
    """A reader of the sink while append_encoded runs sees the wave-1
    chunks plus zero or more WHOLE wave-2 chunks — never a chunk missing a
    column row, never a decoded row that differs from its input. Not "old
    set or new set": the job commit renames task files into place one at
    a time, and each file holds whole chunks, so only the chunk is
    atomic. Wave 2 is one large unshuffled partition: a long append that
    leaves the other cores to the reader."""
    import threading
    import time

    out = str(tmp_path / "sink")
    wave1 = synthesize_pages(spark, 500, seed=23)
    wave2 = synthesize_pages(spark, 40000, seed=29, num_partitions=1)
    want = set(_row_hashes(wave1)) | set(_row_hashes(wave2))
    lineage.append_encoded(wave1, out)
    ids1 = set(_sink_state(spark, out)[0])
    sc, failed = spark.sparkContext, []

    def append_wave2():
        sc.setJobGroup("append", "append")
        try:
            lineage.append_encoded(wave2, out, shuffle=False)
        except Exception as e:  # reported on the main thread
            failed.append(e)

    writer = threading.Thread(target=append_wave2)
    st = sc.statusTracker()
    seen, mid_reads = [], 0
    deadline = time.monotonic() + 600
    writer.start()
    while writer.is_alive() and time.monotonic() < deadline:
        mid = bool(
            set(st.getActiveJobsIds()) & set(st.getJobIdsForGroup("append"))
        )
        chunks, rows = _sink_state(spark, out)
        torn = {c: n for c, (n, _) in chunks.items() if n != 5}
        assert not torn, f"chunks missing a column row visible: {torn}"
        assert ids1 <= set(chunks)
        assert len(rows) == sum(n for _, n in chunks.values())
        assert set(rows) <= want
        seen.append(set(chunks) - ids1)
        mid_reads += mid
    writer.join(timeout=60)
    assert not writer.is_alive() and not failed, failed
    assert mid_reads >= 2, "the append finished before two mid-write reads"
    ids2 = set(_sink_state(spark, out)[0]) - ids1
    assert ids2 and all(s <= ids2 for s in seen)
    res = verify_roundtrip(
        wave1.unionAll(wave2), lineage.read_encoded(spark, out)
    )
    assert res["ok"], res


def test_failed_append_leaves_the_sink_unchanged(spark, tmp_path):
    """An append whose write stage fails after other tasks committed their
    files to ``_temporary`` changes nothing a reader sees: the same chunk
    ids, the same decoded rows, no data file outside ``_temporary``. (A
    killed driver is the other half of the crash contract; it is exercised
    by tools/kill_resume_evidence.py.)"""
    import glob
    import os

    out = str(tmp_path / "sink")
    lineage.append_encoded(synthesize_pages(spark, 1000, seed=29), out)
    chunks_before, rows_before = _sink_state(spark, out)

    def data_files():
        return {
            f for f in glob.glob(os.path.join(out, "**"), recursive=True)
            if os.path.isfile(f) and "_temporary" not in f
        }

    files_before = data_files()
    # 8 partitions on 4 cores: the last one runs after earlier tasks have
    # committed, and local mode does not retry the failed task
    n = 8
    pages = synthesize_pages(spark, 4000, seed=31, num_partitions=n)
    bad = pages.withColumn("text", F.when(
        F.spark_partition_id() == n - 1, F.raise_error(F.lit("append aborted"))
    ).otherwise(F.col("text")))
    sc = spark.sparkContext
    sc.setJobGroup("abort", "abort")
    try:
        with pytest.raises(Exception, match="append aborted"):
            lineage.append_encoded(bad, out, shuffle=False)
        st = sc.statusTracker()
        (write,) = [
            st.getJobInfo(j) for j in st.getJobIdsForGroup("abort")
            if st.getJobInfo(j).status == "FAILED"
        ]
        done_tasks = sum(
            st.getStageInfo(s).numCompletedTasks for s in write.stageIds
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done_tasks > 0  # some task output reached _temporary first
    chunks_after, rows_after = _sink_state(spark, out)
    assert chunks_after == chunks_before
    assert sorted(rows_after) == sorted(rows_before)
    assert data_files() == files_before


def test_partial_duplicate_chunk_not_marked_complete(spark, pages):
    """ADVICE round 1: duplicate manifest rows must not let a chunk with a
    missing column count as complete (countDistinct, not count(*))."""
    out = tempfile.mkdtemp(prefix="partial_")
    try:
        enc = encode_pages(pages).cache()
        # write only 3 of 5 columns, TWICE: count(*) per chunk is 6 >= 5 but
        # distinct columns is 3 — the chunk must NOT be marked done
        partial = enc.filter(F.col("col_idx") < 3)
        lineage.write_encoded(partial, out)
        lineage.write_encoded(partial, out, mode="append")
        done = lineage.completed_chunk_ids(spark, out, n_columns=5)
        assert done == set()
        enc.unpersist()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_completed_chunk_ids_first_run_reads_no_manifest(spark, tmp_path, monkeypatch):
    """A missing sink is the first run: the answer comes from the path's
    FileSystem, with no manifest read (a failed read query would be logged
    by any registered Observation listener)."""

    def no_read(*_a, **_k):
        raise AssertionError("manifest read on a missing sink")

    monkeypatch.setattr(lineage, "read_manifest", no_read)
    assert lineage.completed_chunk_ids(spark, str(tmp_path / "none"), n_columns=5) == set()


def test_completed_chunk_ids_raises_on_corrupt_manifest(spark, tmp_path):
    """Non-missing-path manifest failures must raise, not silently disable
    resume (ADVICE round 1)."""
    out = str(tmp_path / "sink")
    import os

    os.makedirs(lineage.chunks_path(out), exist_ok=True)
    with open(os.path.join(lineage.chunks_path(out), "junk.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    # the guarded regression is 'except Exception: return set()' — so the
    # call must raise, and if it ever returns, the value must NOT be the
    # silent empty set (assert OUTSIDE the raises block, else an
    # AssertionError would satisfy it)
    raised = False
    try:
        ids = lineage.completed_chunk_ids(spark, out, n_columns=5)
    except Exception:
        raised = True
    assert raised, "corrupt manifest must raise, not silently disable resume"


def test_column_pruned_decode_on_partitioned_sink(spark, pages):
    """Column-partitioned sink: decoding a 2-of-5 column subset prunes the
    other columns' directories at planning time (PartitionFilters) and
    returns values identical to the full decode's projection."""
    out = tempfile.mkdtemp(prefix="colpart_")
    try:
        lineage.write_encoded(encode_pages(pages), out, partition_by_column=True)
        enc = lineage.read_encoded(spark, out).filter(
            F.col("column").isin(["url", "lang"])
        )
        sub = decode_chunks(enc, schema=subset_schema(["url", "lang"]))
        assert sub.columns == ["url", "lang"]
        fp = lambda df: df.select(
            F.bit_xor(F.xxhash64(*df.columns)).alias("h")
        ).collect()[0]["h"]
        assert fp(sub) == fp(pages.select("url", "lang"))
        # the scan must prune at the partition level: only the two requested
        # column= directories appear in the scan's partition filters
        plan = enc._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "column" in plan
        # physically: files from other column dirs are never listed as data
        n_all = lineage.read_encoded(spark, out).count()
        n_sub = enc.count()
        assert 0 < n_sub < n_all and n_sub == 2 * n_all // 5
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_zone_map_pruned_decode(spark, pages):
    """Chunk stats (per-chunk min/max in the manifest) prune chunks whose
    range cannot match; surviving superset filters down to the exact rows."""
    out = tempfile.mkdtemp(prefix="zonemap_")
    try:
        # zone maps prune only when chunks are clustered on the stat column:
        # a url-ordered layout (range-partitioned ingest) gives each chunk a
        # narrow url range — the case the stats exist for. (The default
        # host-salted layout spreads urls across every chunk; its stats
        # legitimately prune nothing.)
        clustered = pages.orderBy("url").coalesce(4)
        lineage.write_encoded(encode_pages(clustered, shuffle=False), out)
        enc = lineage.read_encoded(spark, out)
        lo, hi = "https://www.site-0", "https://www.site-2~"
        dec = lineage.decode_chunks_where(spark, out, "url", lo, hi)
        surviving = dec.count()
        exact = dec.filter(
            (F.col("url") >= lo) & (F.col("url") <= hi)
        )
        expect = pages.filter((F.col("url") >= lo) & (F.col("url") <= hi))
        assert exact.count() == expect.count() > 0
        fp = lambda df: df.select(
            F.bit_xor(F.xxhash64(*df.columns)).alias("h")
        ).collect()[0]["h"]
        assert fp(exact.select(*pages.columns)) == fp(expect)
        # pruning actually happened: fewer rows decoded than the full table
        assert surviving < pages.count()
        # a disjoint range prunes EVERY chunk
        none = lineage.decode_chunks_where(spark, out, "url", "zzz", "zzzz")
        assert none.count() == 0
        # int/timestamp stats: warc_ts stored as epoch-us
        ts = lineage.read_encoded(spark, out).filter(
            F.col("column") == "warc_ts"
        ).select("stats").first()["stats"]
        assert ts is not None and '"min"' in ts
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_zone_map_timestamp_range_pruning(spark, pages):
    """warc_ts stats (epoch-µs longs) prune a time-range decode when chunks
    are time-clustered (the crawl-ordered ingest layout)."""
    out = tempfile.mkdtemp(prefix="zonets_")
    try:
        clustered = pages.orderBy("warc_ts").coalesce(4)
        lineage.write_encoded(encode_pages(clustered, shuffle=False), out)
        # the generator's ts ramp starts at epoch-µs 1.7e15; take an early slice
        lo, hi = 1_700_000_000_000_000 - 20_000_000, 1_700_000_000_500_000
        dec = lineage.decode_chunks_where(spark, out, "warc_ts", lo, hi)
        n_surviving = dec.count()
        assert 0 < n_surviving < pages.count()
        got = dec.filter(
            (F.unix_micros("warc_ts") >= lo) & (F.unix_micros("warc_ts") <= hi)
        ).count()
        expect = pages.filter(
            (F.unix_micros("warc_ts") >= lo) & (F.unix_micros("warc_ts") <= hi)
        ).count()
        assert got == expect > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_drifted_input_reencodes_instead_of_false_skip(spark):
    """Chunk ids hash ALL column values: input that drifted between runs
    (same urls, changed text) must get NEW ids — resume re-encodes it
    instead of skipping to the stale copy, and same-id rows are therefore
    genuinely value-identical (review finding, round 2)."""
    out = tempfile.mkdtemp(prefix="drift_")
    try:
        rows_v1 = [(f"https://d.com/p{i}", 1_700_000_000 + i, b"<p>", f"text v1 {i}", "en")
                   for i in range(100)]
        rows_v2 = [(u, ts, h, t.replace("v1", "v2"), lg)
                   for (u, ts, h, t, lg) in rows_v1]
        mk = lambda rows: spark.createDataFrame(
            rows, "url string, warc_ts long, html binary, text string, lang string"
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp")).coalesce(1)
        lineage.write_encoded(encode_pages(mk(rows_v1), shuffle=False), out)
        done = lineage.completed_chunk_ids(spark, out, n_columns=5)
        assert len(done) == 1
        # same urls, drifted text: the chunk id differs, so the v2 chunk is
        # NOT in the skip set and re-encodes under a NEW id
        lineage.encode_resumable(mk(rows_v2).coalesce(1), out, salt_buckets=1)
        ids_after = lineage.completed_chunk_ids(spark, out, n_columns=5)
        assert len(ids_after) >= 2, "drifted chunk must get a new id"
        assert done < ids_after  # the v1 id is still there, v2 added
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_decode_tolerates_stats_free_sink(spark, pages):
    """Sinks written before the stats, data_bytes and cluster-stamp columns
    existed (round 1) read those columns as NULL through the declared sink
    schema: both decode paths stay bit-identical, resume and the manifest
    probes work, and a range-pruned read fails loud for want of stamps."""
    out = tempfile.mkdtemp(prefix="oldsink_")
    try:
        from hadoop_etl_udfs_spark.operators.encode import decode_chunks_colocated

        old_style = encode_pages(pages).drop(
            "stats", "data_bytes", "cluster_lo", "cluster_hi"
        )
        old_style.write.mode("overwrite").option("compression", "none").parquet(
            lineage.chunks_path(out)
        )
        fp = lambda df: df.select(
            F.bit_xor(F.xxhash64(*df.columns)).alias("h")
        ).collect()[0]["h"]
        assert fp(decode_chunks(lineage.read_encoded(spark, out))) == fp(pages)
        enc = lineage.read_encoded_colocated(spark, out)
        assert fp(decode_chunks_colocated(enc)) == fp(pages)
        assert enc.filter(F.coalesce(
            "stats", "data_bytes", "cluster_lo", "cluster_hi"
        ).isNotNull()).count() == 0
        # resume bookkeeping and the manifest probes work without them too
        assert len(lineage.completed_chunk_ids(spark, out, n_columns=5)) > 0
        assert lineage.sink_bloom_columns(enc) == []
        assert not lineage.sink_has_duplicates(spark, out)
        with pytest.raises(ValueError, match="no non-NULL cluster stamps"):
            lineage.decode_chunks_where_clustered(spark, out, 0, 1)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_decode_aligns_writer_session_timezone(spark):
    """A sink written by a session whose Arrow batches carried a different
    (but equivalent) timezone id — e.g. tz=Etc/UTC under a bare
    spark-submit session — must decode in THIS session: the epoch-µs
    values are absolute, the tz is metadata, and both decode paths cast to
    the verifier's canonical tz=UTC (operators/encode._type_align)."""
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.encode import (
        decode_chunks,
        decode_chunks_colocated,
        encode_pages,
        verify_roundtrip,
    )
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 200, seed=7).coalesce(1).cache()
    enc = encode_pages(pages, shuffle=False)
    drifted = enc.withColumn(
        "meta", F.regexp_replace("meta", "tz=UTC", "tz=Etc/UTC")
    ).cache()
    try:
        assert verify_roundtrip(pages, drifted)["ok"]  # grouped path
        got = decode_chunks_colocated(drifted).select("url", "warc_ts")
        want = {r["url"]: r["warc_ts"] for r in pages.select("url", "warc_ts").collect()}
        rows = got.collect()
        assert len(rows) == 200
        assert all(want[r["url"]] == r["warc_ts"] for r in rows)
    finally:
        drifted.unpersist()
        pages.unpersist()


def test_decode_schema_evolution_on_chunk_sink(spark):
    """The engine's own sink supports schema evolution at decode time:
    an evolved schema's added column comes back all-NULL (the reference's
    pre-evolution-file semantics applied to the chunk sink), a narrowed
    schema skips the dropped sink columns without decoding them, and a
    mixed-version sink (chunks appended before AND after the evolution)
    decodes each chunk against the requested schema. Both decode paths."""
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.encode import (
        decode_chunks,
        decode_chunks_colocated,
        encode_pages,
    )
    from hadoop_etl_udfs_spark.sources.pages import PAGES_SCHEMA, synthesize_pages

    pages = synthesize_pages(spark, 300, seed=17).coalesce(1).cache()
    enc = encode_pages(pages, shuffle=False).cache()
    evolved = PAGES_SCHEMA + ", quality double"
    try:
        for dec in (
            decode_chunks(enc, schema=evolved),
            decode_chunks_colocated(enc, schema=evolved),
        ):
            got = dec.cache()
            assert got.count() == 300
            assert got.filter(F.col("quality").isNotNull()).count() == 0
            fp_cols = ["url", "warc_ts", "html", "text", "lang"]
            fp = lambda df: df.select(
                F.bit_xor(F.xxhash64(*fp_cols)).alias("h")
            ).collect()[0]["h"]
            assert fp(got) == fp(pages)  # surviving columns bit-identical
            got.unpersist()
        # narrowed schema: only the 2 requested sink columns decode
        proj = decode_chunks(enc, schema="url string, lang string")
        assert proj.columns == ["url", "lang"] and proj.count() == 300
        # zero schema overlap = misspelled schema, never an all-NULL result
        import pytest

        with pytest.raises(Exception, match="none of the requested"):
            decode_chunks(enc, schema="urll string, langg string").collect()
        # mixed-version sink: chunks of 5 and 6 columns appended together
        evolved_pages = pages.limit(50).withColumn(
            "quality", F.length("text").cast("double")
        ).coalesce(1)
        mixed = enc.unionByName(encode_pages(evolved_pages, shuffle=False))
        out = decode_chunks(mixed, schema=evolved)
        assert out.count() == 350
        assert out.filter(F.col("quality").isNotNull()).count() == 50
    finally:
        enc.unpersist()
        pages.unpersist()


def test_colocated_decode_rejects_wrong_sink_arity(spark, tmp_path):
    """An evolved (6-column) sink decoded colocated with a stale
    n_columns=5 must raise, not silently NULL the sixth column whose data
    exists in the sink; the correct arity decodes, including NULL-filling
    a column the schema requests but the sink lacks."""
    from hadoop_etl_udfs_spark.operators.encode import (
        IncompleteChunkError,
        decode_chunks_colocated,
    )

    pages6 = (
        synthesize_pages(spark, 200, seed=23)
        .withColumn("quality", F.length("text").cast("double"))
        .coalesce(1)
    )
    out = str(tmp_path / "six")
    lineage.write_encoded(encode_pages(pages6, shuffle=False), out)
    enc = lineage.read_encoded_colocated(spark, out)
    schema6 = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, quality double"
    )
    with pytest.raises(Exception, match="arrived incomplete"):
        decode_chunks_colocated(enc, schema=schema6, n_columns=5).collect()
    good = decode_chunks_colocated(enc, schema=schema6, n_columns=6)
    got = {r["url"]: r["quality"] for r in good.collect()}
    want = {r["url"]: r["quality"] for r in pages6.collect()}
    assert got == want and len(got) == 200
    # over-specified arity is loud too (groups never complete)
    with pytest.raises(Exception, match="arrived incomplete"):
        decode_chunks_colocated(enc, schema=schema6, n_columns=7).collect()


def test_embeddings_table_encodes_and_decodes_bit_identical(spark):
    """The round-6 flist path through the FULL Spark pipeline: the
    embeddings table (list<float> column) chunk-encodes via
    byte-stream-split (codecs/bss.py), lands in the standard encoded
    schema, and decodes bit-identically — including a schema-evolution
    read that requests only a column subset."""
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.encode import (
        decode_chunks,
        encode_pages,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = emb.repartition(8, F.pmod(F.xxhash64("vec_id"), F.lit(8)))
    enc = encode_pages(src, shuffle=False).cache()
    codecs_used = {
        r["column"]: r["codec"]
        for r in enc.select("column", "codec").distinct().collect()
    }
    assert codecs_used["embedding"] == "bss"

    full_schema = "vec_id bigint, embedding array<float>, label int"
    dec = decode_chunks(enc, schema=full_schema)
    a = src.orderBy("vec_id").collect()
    b = dec.orderBy("vec_id").collect()
    assert a == b

    # column-subset read skips the other chunks' payloads
    sub = decode_chunks(enc, schema="vec_id bigint, embedding array<float>")
    assert sub.columns == ["vec_id", "embedding"]
    assert sub.count() == emb.count()
    one = sub.orderBy("vec_id").first()
    want = emb.orderBy("vec_id").first()
    assert one["embedding"] == want["embedding"]
    enc.unpersist()


def test_encode_partition_cols_generic_table_deterministic_resume(spark):
    """partition_cols (round 6) makes the standard shuffle path
    table-agnostic: the embeddings table encodes with shuffle=True keyed
    on vec_id, decodes bit-identically, and chunking is DETERMINISTIC —
    a second identical run produces the same content-addressed chunk ids,
    so resume's skip-set skips everything."""
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.encode import (
        decode_chunks,
        encode_pages,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    enc1 = encode_pages(emb, partition_cols=["vec_id"]).cache()
    ids1 = {r["chunk_id"] for r in enc1.select("chunk_id").distinct().collect()}
    enc2 = encode_pages(emb, partition_cols=["vec_id"])
    ids2 = {r["chunk_id"] for r in enc2.select("chunk_id").distinct().collect()}
    assert ids1 == ids2 and len(ids1) > 1
    # resume semantics: skipping the full id set encodes nothing
    enc3 = encode_pages(emb, partition_cols=["vec_id"], skip_chunk_ids=ids1)
    assert enc3.count() == 0

    dec = decode_chunks(
        enc1, schema="vec_id bigint, embedding array<float>, label int"
    )
    assert dec.orderBy("vec_id").collect() == emb.orderBy("vec_id").collect()
    # loud rejects
    import pytest as _pytest
    with _pytest.raises(ValueError, match="partition_cols"):
        encode_pages(emb, partition_cols=["nope"])
    with _pytest.raises(ValueError, match="adaptive"):
        encode_pages(emb, partition_cols=["vec_id"], salt_buckets="adaptive")
    enc1.unpersist()


def test_ivf_over_encoded_prunes_chunks_and_matches_unencoded(spark):
    """IVF ANN over the cell-clustered compressed sink: the cluster-stamp
    filter must DROP a real fraction of chunks (that's the byte-pruning
    the layout buys) and return exactly the unencoded IVF search's
    results."""
    from hadoop_etl_udfs_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_over_encoded,
    )

    stats: dict = {}
    got = cosine_topk_ivf_over_encoded(
        spark, "/root/testdata/sf0.001", stats=stats
    ).collect()
    want = cosine_topk_ivf(spark, "/root/testdata/sf0.001").collect()
    assert got == want
    assert 0 < stats["chunks_kept"] < stats["chunks_total"]
