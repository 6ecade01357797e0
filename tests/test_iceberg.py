"""Spec-pure Iceberg v1 table format (sources/iceberg_lite.py): commit /
snapshot isolation / time travel / manifest-level file pruning.

The reference's table abstraction is a metastore-described directory of
files (HCatTableMetadata.java:11-31, enumeration HdfsService.java:24-57);
iceberg_lite replaces the directory walk with manifest-driven planning and
adds atomic commits the reference never had.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.sources.iceberg_lite import (
    iceberg_data_files,
    iceberg_snapshots,
    read_iceberg,
    read_table_meta,
    write_iceberg_table,
)
from hadoop_etl_udfs_spark.sources.pages import synthesize_pages


def _fingerprint(df):
    """Order-independent content hash over all columns."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.select(
        F.bit_xor(F.xxhash64(*cols)).alias("h"), F.count("*").alias("n")
    ).collect()[0]


def _data_files(tbl):
    """Every file under a table's data/ directory."""
    return [
        f for f in glob.glob(os.path.join(tbl, "data", "**"), recursive=True)
        if os.path.isfile(f)
    ]


def test_iceberg_roundtrip_bit_identical(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 500, seed=11).cache()
    sid = write_iceberg_table(pages, tbl, mode="overwrite", stats_col="warc_ts")
    assert sid == 1
    got = read_iceberg(spark, tbl)
    assert got.schema == pages.schema
    assert _fingerprint(got) == _fingerprint(pages)
    # the on-disk layout is the spec layout
    assert os.path.exists(os.path.join(tbl, "metadata", "version-hint.text"))
    assert os.path.exists(os.path.join(tbl, "metadata", "v1.metadata.json"))
    meta = read_table_meta(tbl)
    assert meta["format-version"] == 1
    assert meta["current-snapshot-id"] == 1
    pages.unpersist()


def test_iceberg_append_and_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    w1 = synthesize_pages(spark, 300, seed=1).cache()
    w2 = synthesize_pages(spark, 700, seed=1).filter(
        F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    ).exceptAll(w1).cache()
    s1 = write_iceberg_table(w1, tbl, mode="overwrite", stats_col="warc_ts")
    s2 = write_iceberg_table(w2, tbl, mode="append", stats_col="warc_ts")
    assert (s1, s2) == (1, 2)
    # current snapshot = union of both commits
    cur = read_iceberg(spark, tbl)
    assert _fingerprint(cur) == _fingerprint(w1.unionAll(w2))
    # time travel to snapshot 1 = first wave only
    old = read_iceberg(spark, tbl, snapshot_id=s1)
    assert _fingerprint(old) == _fingerprint(w1)
    log = iceberg_snapshots(tbl)
    assert [s["snapshot_id"] for s in log] == [1, 2]
    assert log[1]["is_current"] and not log[0]["is_current"]
    # append reused wave-1's manifest instead of rewriting it
    _, plan = iceberg_data_files(tbl)
    assert plan["n_manifests"] == 2
    w1.unpersist(), w2.unpersist()


def test_iceberg_overwrite_keeps_history(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    w1 = synthesize_pages(spark, 200, seed=3).cache()
    w2 = synthesize_pages(spark, 150, seed=4).cache()
    write_iceberg_table(w1, tbl, mode="overwrite")
    write_iceberg_table(w2, tbl, mode="overwrite")
    assert _fingerprint(read_iceberg(spark, tbl)) == _fingerprint(w2)
    # the replaced snapshot is still readable (Iceberg never deletes history)
    assert _fingerprint(read_iceberg(spark, tbl, snapshot_id=1)) == _fingerprint(w1)
    w1.unpersist(), w2.unpersist()


def test_iceberg_manifest_bounds_prune_files(spark, tmp_path):
    """Files are pruned at PLAN time from manifest bounds — before any
    parquet footer is opened. Range-cluster the writes so bounds are
    narrow, query the first ~20% of the time range, and check the plan
    stats + value-equality against the unpruned filter."""
    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 2000, seed=9).cache()
    clustered = pages.repartitionByRange(8, "warc_ts")
    write_iceberg_table(clustered, tbl, mode="overwrite", stats_col="warc_ts")
    b = pages.agg(
        F.min(F.unix_micros("warc_ts")).alias("lo"),
        F.max(F.unix_micros("warc_ts")).alias("hi"),
    ).collect()[0]
    cut = b["lo"] + (b["hi"] - b["lo"]) // 5
    files, plan = iceberg_data_files(tbl, where=("warc_ts", b["lo"], cut))
    assert plan["files_total"] >= 8
    assert 0 < plan["files_kept"] < plan["files_total"] / 2
    pruned = read_iceberg(spark, tbl, where=("warc_ts", b["lo"], cut)).filter(
        F.unix_micros("warc_ts") <= cut
    )
    full = read_iceberg(spark, tbl).filter(F.unix_micros("warc_ts") <= cut)
    assert _fingerprint(pruned) == _fingerprint(full)
    # an impossible range plans zero files and returns an empty, typed frame
    nothing = read_iceberg(spark, tbl, where=("warc_ts", b["hi"] + 10, b["hi"] + 20))
    assert nothing.count() == 0 and nothing.schema == pages.schema
    pages.unpersist()


def test_iceberg_bounds_pruning_equals_unpruned_for_random_ranges(spark, tmp_path):
    """For ANY range, the manifest-pruned scan + residual filter must equal
    the unpruned scan + the same filter — pruning may only skip files that
    cannot match. Ten seeded ranges (incl. degenerate and all-covering) on
    one range-clustered table."""
    import random

    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 1500, seed=71).cache()
    write_iceberg_table(
        pages.repartitionByRange(6, "warc_ts"), tbl,
        mode="overwrite", stats_col="warc_ts",
    )
    b = pages.agg(
        F.min(F.unix_micros("warc_ts")).alias("lo"),
        F.max(F.unix_micros("warc_ts")).alias("hi"),
    ).collect()[0]
    lo, hi = b["lo"], b["hi"]
    rng = random.Random(7)
    spans = [(lo, hi), (lo, lo), (hi, hi), (hi + 1, hi + 2)] + [
        tuple(sorted((rng.randint(lo, hi), rng.randint(lo, hi))))
        for _ in range(6)
    ]
    full = read_iceberg(spark, tbl)
    for a, c in spans:
        resid = (F.unix_micros("warc_ts") >= a) & (F.unix_micros("warc_ts") <= c)
        want = full.filter(resid).count()
        got = read_iceberg(spark, tbl, where=("warc_ts", a, c)).filter(resid).count()
        assert got == want, (a, c, got, want)
    pages.unpersist()


def test_iceberg_multi_column_bounds_prune_independently(spark, tmp_path):
    """stats_col accepts a list: each stats column carries its own manifest
    bounds and prunes independently — here warc_ts (the range-cluster key)
    prunes hard while a where on the uncorrelated second column keeps
    everything, both value-consistent with the unpruned scan."""
    tbl = str(tmp_path / "tbl")
    pages = (
        synthesize_pages(spark, 1200, seed=91)
        .withColumn("n_chars", F.length("text").cast("long"))
        .cache()
    )
    write_iceberg_table(
        pages.repartitionByRange(6, "warc_ts"), tbl,
        mode="overwrite", stats_col=["warc_ts", "n_chars"],
    )
    b = pages.agg(
        F.min(F.unix_micros("warc_ts")).alias("lo"),
        F.max(F.unix_micros("warc_ts")).alias("hi"),
        F.min("n_chars").alias("clo"),
        F.max("n_chars").alias("chi"),
    ).collect()[0]
    cut = b["lo"] + (b["hi"] - b["lo"]) // 5
    _, plan_ts = iceberg_data_files(tbl, where=("warc_ts", b["lo"], cut))
    assert 0 < plan_ts["files_kept"] < plan_ts["files_total"]  # ts prunes
    # n_chars is uniform across the range partitions: full-range where keeps
    # all files, and an impossible range drops all
    _, plan_nc = iceberg_data_files(tbl, where=("n_chars", b["clo"], b["chi"]))
    assert plan_nc["files_kept"] == plan_nc["files_total"]
    _, plan_none = iceberg_data_files(
        tbl, where=("n_chars", b["chi"] + 1, b["chi"] + 2)
    )
    assert plan_none["files_kept"] == 0
    # value consistency on the n_chars predicate
    mid = (b["clo"] + b["chi"]) // 2
    resid = F.col("n_chars") <= mid
    want = read_iceberg(spark, tbl).filter(resid).count()
    got = read_iceberg(
        spark, tbl, where=("n_chars", b["clo"], mid)
    ).filter(resid).count()
    assert got == want
    pages.unpersist()


def test_iceberg_format_dispatch(spark, tmp_path):
    """S1/S2 dispatch: fmt="iceberg" routes read_pages through the
    metadata/manifest planner; schema comes from table metadata."""
    from hadoop_etl_udfs_spark.sources.formats import read_pages

    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 120, seed=6)
    write_iceberg_table(pages, tbl, mode="overwrite")
    got = read_pages(spark, tbl, fmt="iceberg")
    assert got.schema == pages.schema
    assert _fingerprint(got) == _fingerprint(pages)


def test_iceberg_incremental_snapshot_diff_feeds_encode(spark, tmp_path):
    """The north star's ingestion loop: the encode pipeline consumes ONLY
    the files new Iceberg commits added (snapshot diff), composing with the
    content-addressed resume contract — the accumulated chunk sink ends up
    holding exactly the union, no duplicates, bit-identical."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages, verify_roundtrip
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.iceberg_lite import read_iceberg_incremental

    tbl = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    w1 = synthesize_pages(spark, 400, seed=21).cache()
    w2 = synthesize_pages(spark, 900, seed=21).exceptAll(w1).cache()
    s1 = write_iceberg_table(w1, tbl, mode="overwrite", stats_col="warc_ts")
    # cycle 1: full read at snapshot 1, encode
    enc1 = encode_pages(read_iceberg(spark, tbl))
    lineage.write_encoded(enc1, sink, mode="append")
    # cycle 2: a new commit arrives; consume only its diff
    write_iceberg_table(w2, tbl, mode="append", stats_col="warc_ts")
    diff = read_iceberg_incremental(spark, tbl, from_snapshot_id=s1)
    assert _fingerprint(diff) == _fingerprint(w2)  # only the new rows
    done = lineage.completed_chunk_ids(spark, sink, n_columns=5)
    enc2 = encode_pages(diff, skip_chunk_ids=done)
    lineage.write_encoded(enc2, sink, mode="append")
    # sink = exact union, each chunk once, bit-identical
    enc = lineage.read_encoded(spark, sink)
    dupes = (
        enc.groupBy("chunk_id", "column").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0
    assert verify_roundtrip(w1.unionAll(w2), enc)["ok"]
    # an already-consumed diff is a no-op (empty frame, schema intact)
    nothing = read_iceberg_incremental(spark, tbl, from_snapshot_id=2)
    assert nothing.count() == 0 and nothing.schema == w1.schema
    w1.unpersist(), w2.unpersist()


def test_iceberg_column_subset_and_schema_guard(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 100, seed=2)
    write_iceberg_table(pages, tbl, mode="overwrite")
    sub = read_iceberg(spark, tbl, columns=["url", "lang"])
    assert sub.columns == ["url", "lang"] and sub.count() == 100
    # a commit that DROPS existing columns must fail loud, not corrupt
    with pytest.raises(ValueError, match="ADDITIVE schema evolution only"):
        write_iceberg_table(
            pages.select("url", "lang"), tbl, mode="append"
        )
    # ...and so must a type change on an existing column
    with pytest.raises(ValueError, match="changed type"):
        write_iceberg_table(
            pages.withColumn("lang", F.length("lang")), tbl, mode="append"
        )
    # a bad stats column (a DATE column, a misspelled name) fails before
    # any data file is written, on a fresh path and on an existing table
    dated = pages.withColumn("d", F.to_date("warc_ts"))
    n_files = len(_data_files(tbl))
    for bad in ("d", "dd"):
        fresh = str(tmp_path / f"fresh_{bad}")
        with pytest.raises(ValueError, match="stats column"):
            write_iceberg_table(dated, fresh, mode="overwrite", stats_col=bad)
        assert _data_files(fresh) == []
        with pytest.raises(ValueError, match="stats column"):
            write_iceberg_table(dated, tbl, mode="append", stats_col=bad)
    assert len(_data_files(tbl)) == n_files
    # the failed commits did not advance the table version
    assert read_table_meta(tbl)["current-snapshot-id"] == 1


def test_iceberg_expire_snapshots_reclaims_and_protects(spark, tmp_path):
    """expire_snapshots deletes exactly the data files/manifests only
    expired snapshots reference; the current snapshot keeps reading, time
    travel to the expired one fails, and files SHARED with a retained
    snapshot (append lineage) survive."""
    from hadoop_etl_udfs_spark.sources.iceberg_lite import expire_snapshots

    tbl = str(tmp_path / "tbl")
    w1 = synthesize_pages(spark, 150, seed=41).cache()
    w2 = synthesize_pages(spark, 130, seed=42).cache()
    w3 = synthesize_pages(spark, 300, seed=41).exceptAll(w1).cache()
    write_iceberg_table(w1, tbl, mode="overwrite")      # snap 1
    write_iceberg_table(w2, tbl, mode="overwrite")      # snap 2 (replaces)
    write_iceberg_table(w3, tbl, mode="append")         # snap 3 = w2 + w3
    stats = expire_snapshots(tbl, keep_last=1)
    assert stats["expired_snapshots"] == 2
    assert stats["deleted_files"] > 0                   # w1's files freed
    # current still reads the full union; w1's rows are gone with snap 1
    cur = read_iceberg(spark, tbl)
    assert _fingerprint(cur) == _fingerprint(w2.unionAll(w3))
    # time travel to an expired snapshot fails loud
    with pytest.raises(ValueError, match="not found"):
        read_iceberg(spark, tbl, snapshot_id=1)
    # shared-lineage protection: snap 3 reuses snap 2's manifest, so w2's
    # data files must have survived the expiry of snapshot 2
    assert cur.count() == w2.count() + w3.count()
    w1.unpersist(), w2.unpersist(), w3.unpersist()


def test_iceberg_crashed_commit_recovery_and_orphan_cleanup(spark, tmp_path):
    """A commit that crashed between the data write and the metadata commit
    leaves an orphaned data dir: the retry must not collide with it, a read
    must not see its rows, and remove_orphan_files reclaims exactly it."""
    import shutil as _sh

    from hadoop_etl_udfs_spark.sources.iceberg_lite import remove_orphan_files

    tbl = str(tmp_path / "tbl")
    w1 = synthesize_pages(spark, 100, seed=51).cache()
    write_iceberg_table(w1, tbl, mode="overwrite")  # snap 1
    # simulate a crashed snap-2 commit: data written, no metadata
    orphan = os.path.join(tbl, "data", "snap-2")
    synthesize_pages(spark, 40, seed=52).write.parquet(orphan)
    # a reader never sees the orphan (manifest-planned, not dir-listed)
    assert read_iceberg(spark, tbl).count() == 100
    # the retried commit lands beside the orphan instead of colliding
    w2 = synthesize_pages(spark, 220, seed=51).exceptAll(w1).cache()
    write_iceberg_table(w2, tbl, mode="append")     # snap 2 retry
    assert _fingerprint(read_iceberg(spark, tbl)) == _fingerprint(w1.unionAll(w2))
    # orphan cleanup removes the crashed dir's files, nothing live
    stats = remove_orphan_files(tbl)
    assert stats["deleted_files"] > 0
    assert _fingerprint(read_iceberg(spark, tbl)) == _fingerprint(w1.unionAll(w2))
    _sh.rmtree(orphan, ignore_errors=True)
    w1.unpersist(), w2.unpersist()


def test_iceberg_additive_schema_evolution(spark, tmp_path):
    """Iceberg's additive evolution: an append may ADD columns — the table
    schema grows with fresh field ids, pre-evolution data files read the
    new column as NULL, and new files carry real values."""
    tbl = str(tmp_path / "tbl")
    w1 = synthesize_pages(spark, 80, seed=13).cache()
    w2 = (
        synthesize_pages(spark, 200, seed=13).exceptAll(w1)
        .withColumn("fetch_ms", F.unix_micros("warc_ts") % 1000)
        .cache()
    )
    write_iceberg_table(w1, tbl, mode="overwrite")
    write_iceberg_table(w2, tbl, mode="append")
    meta = read_table_meta(tbl)
    names = [f["name"] for f in meta["schema"]["fields"]]
    assert names[-1] == "fetch_ms" and meta["last-column-id"] == 6
    got = read_iceberg(spark, tbl)
    assert got.columns == names
    old = got.join(w1.select("url"), "url", "semi")
    assert old.count() == 80
    assert old.filter(F.col("fetch_ms").isNotNull()).count() == 0  # NULL-filled
    new = got.join(w2.select("url"), "url", "semi")
    assert new.filter(F.col("fetch_ms").isNull()).count() == 0
    w1.unpersist(), w2.unpersist()


def test_iceberg_identity_partition_spec_prunes_and_reads_exact(spark, tmp_path):
    """Identity partition spec (r4 verdict item 5): partition values are
    recorded in manifest entries and prune files at PLAN time — the
    reference's Hive-style partition pruning (HdfsService.java:92-110,
    PartitionPathFilter.java:33-82) as a manifest walk — while reads stay
    value-exact (partition source columns remain in the data files)."""
    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 300, seed=21).cache()
    write_iceberg_table(pages, tbl, mode="overwrite", partition_by="lang")
    meta = read_table_meta(tbl)
    spec = meta["partition-specs"][meta["default-spec-id"]]
    assert [f["name"] for f in spec["fields"]] == ["lang"]
    assert spec["fields"][0]["transform"] == "identity"

    langs = [r["lang"] for r in pages.select("lang").distinct().collect()]
    pick = sorted(langs)[0]
    files_all, st_all = iceberg_data_files(tbl)
    files_pr, st_pr = iceberg_data_files(tbl, partition_filter={"lang": pick})
    assert st_pr["files_kept"] < st_pr["files_total"] == st_all["files_total"]
    # pruned read == row filter on the full table, value-exact
    pruned = read_iceberg(spark, tbl, partition_filter={"lang": pick})
    expect = pages.filter(F.col("lang") == pick)
    assert _fingerprint(pruned) == _fingerprint(expect)
    # OR-of-AND shape: a value LIST keeps the union of both partitions
    two = sorted(langs)[:2]
    pr2 = read_iceberg(spark, tbl, partition_filter={"lang": two})
    assert _fingerprint(pr2) == _fingerprint(pages.filter(F.col("lang").isin(two)))
    # full read unchanged
    assert _fingerprint(read_iceberg(spark, tbl)) == _fingerprint(pages)
    # appends must match the table's spec — a silent layout split is a bug
    with pytest.raises(ValueError, match="must use the current spec"):
        write_iceberg_table(pages.limit(10), tbl, mode="append")
    write_iceberg_table(pages.limit(10), tbl, mode="append", partition_by="lang")
    pages.unpersist()


def test_iceberg_time_travel_uses_snapshot_schema(spark, tmp_path):
    """Time travel to a pre-evolution snapshot returns the PRE-evolution
    shape (Iceberg's snapshot-schema semantics, ADVICE r4) — not the
    current schema with phantom all-NULL columns."""
    tbl = str(tmp_path / "tbl")
    w1 = synthesize_pages(spark, 60, seed=31).cache()
    w2 = (
        synthesize_pages(spark, 150, seed=31).exceptAll(w1)
        .withColumn("fetch_ms", F.unix_micros("warc_ts") % 1000)
        .cache()
    )
    s1 = write_iceberg_table(w1, tbl, mode="overwrite")
    write_iceberg_table(w2, tbl, mode="append")
    old = read_iceberg(spark, tbl, snapshot_id=s1)
    assert old.columns == w1.columns  # no fetch_ms on the historical read
    assert _fingerprint(old) == _fingerprint(w1)
    cur = read_iceberg(spark, tbl)
    assert cur.columns == w1.columns + ["fetch_ms"]
    w1.unpersist(), w2.unpersist()


def test_iceberg_corrupt_version_hint_recovers(spark, tmp_path):
    """Commits are atomic (temp + os.replace), and even an externally
    corrupted/empty version hint must not brick reads: current_version
    falls back to the max committed metadata version (ADVICE r4)."""
    from hadoop_etl_udfs_spark.sources.iceberg_lite import current_version

    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 50, seed=41).cache()
    write_iceberg_table(pages, tbl, mode="overwrite")
    write_iceberg_table(pages.limit(5), tbl, mode="append")
    hint = os.path.join(tbl, "metadata", "version-hint.text")
    with open(hint, "w") as f:
        f.write("")  # torn hint (crash mid-write in a non-atomic world)
    assert current_version(tbl) == 2
    assert read_iceberg(spark, tbl).count() == 55
    # the next commit repairs the hint
    write_iceberg_table(pages.limit(3), tbl, mode="append")
    with open(hint) as f:
        assert f.read().strip() == "3"
    pages.unpersist()


def test_iceberg_overwrite_respec_then_append_uses_new_spec(spark, tmp_path):
    """An overwrite may change the partition spec (new default spec-id);
    subsequent appends must match the NEW default — matching a historical
    spec (e.g. the original unpartitioned one) would silently split the
    table's layout."""
    tbl = str(tmp_path / "tbl")
    pages = synthesize_pages(spark, 120, seed=51).cache()
    write_iceberg_table(pages, tbl, mode="overwrite")            # spec 0: []
    write_iceberg_table(pages, tbl, mode="overwrite", partition_by="lang")
    meta = read_table_meta(tbl)
    assert meta["default-spec-id"] == 1
    assert [f["name"] for f in meta["partition-spec"]] == ["lang"]
    # append matching the OLD unpartitioned spec must now fail loud
    with pytest.raises(ValueError, match="must use the current spec"):
        write_iceberg_table(pages.limit(5), tbl, mode="append")
    write_iceberg_table(pages.limit(5), tbl, mode="append", partition_by="lang")
    assert read_iceberg(spark, tbl).count() == 125
    pages.unpersist()


def test_iceberg_partition_values_with_special_chars(spark, tmp_path):
    """Partition values containing spaces / '=' / '%' survive the
    URI-encoding round trip: Spark Hive-escapes them in directory names,
    input_file_name() percent-encodes the URI a second time — one decode
    at manifest-write time recovers the on-disk path, and the parser's own
    unquote recovers the logical value. (Pre-fix this crashed the commit
    with FileNotFoundError on getsize.)"""
    from pyspark.sql import Row

    tbl = str(tmp_path / "tbl")
    rows = [
        Row(doc_id=i, tag=t, text=f"doc {i}")
        for i, t in enumerate(["plain", "a b", "x=y", "p%q", "a/b"] * 4)
    ]
    df = spark.createDataFrame(rows)
    write_iceberg_table(df, tbl, mode="overwrite", partition_by="tag")
    got = read_iceberg(spark, tbl)
    assert _fingerprint(got) == _fingerprint(df)
    # pruning by an awkward value keeps exactly that partition
    pr = read_iceberg(spark, tbl, partition_filter={"tag": "x=y"})
    assert _fingerprint(pr) == _fingerprint(df.filter(F.col("tag") == "x=y"))
    files_pr, st = iceberg_data_files(tbl, partition_filter={"tag": "a b"})
    assert 0 < st["files_kept"] < st["files_total"]


def test_iceberg_empty_string_partition_value_rejected(spark, tmp_path):
    """Spark's Hive layout writes __HIVE_DEFAULT_PARTITION__ for BOTH null
    and '' — indistinguishable in the manifest, so a pruned read for ''
    would silently drop rows (ADVICE r5). The write must raise BEFORE the
    metadata commit, leaving no new snapshot."""
    from pyspark.sql import Row

    tbl = str(tmp_path / "tbl")
    ok = spark.createDataFrame(
        [Row(doc_id=i, tag=f"t{i % 3}") for i in range(12)]
    )
    write_iceberg_table(ok, tbl, mode="overwrite", partition_by="tag")
    n_snaps = len(iceberg_snapshots(tbl))
    bad = spark.createDataFrame(
        [Row(doc_id=99, tag="")] + [Row(doc_id=i, tag="x") for i in range(3)]
    )
    with pytest.raises(ValueError, match="empty-string"):
        write_iceberg_table(bad, tbl, mode="append", partition_by="tag")
    assert len(iceberg_snapshots(tbl)) == n_snaps  # nothing committed
    assert _fingerprint(read_iceberg(spark, tbl)) == _fingerprint(ok)


def test_iceberg_partition_by_is_identity_only(spark, tmp_path):
    """partition_by names identity columns only: a transform expression or
    a missing column is not a column (ValueError), and a column outside
    string/long/int is the wrong type (TypeError). Both fail before any
    data file is written."""
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(doc_id=1, v=2.5, u="x")])
    for i, bad in enumerate(["day(u)", "bucket(4, u)", "nope"]):
        with pytest.raises(ValueError, match="identity partitions only"):
            write_iceberg_table(df, str(tmp_path / f"t{i}"), partition_by=bad)
    with pytest.raises(TypeError, match="identity partitions support"):
        write_iceberg_table(df, str(tmp_path / "t3"), partition_by="v")
    assert not any(
        os.path.exists(tmp_path / f"t{i}" / "data") for i in range(4)
    )


def test_iceberg_list_column_roundtrip_time_travel_and_evolution(spark, tmp_path):
    """Round 6: Iceberg list types (spec §Schemas) — an embeddings-shaped
    table (array<float> column) writes, reads value-exact, time-travels,
    and additively evolves with ANOTHER list column whose element-id is
    allocated from the table's id pool (spec-unique across the schema)."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "tbl")
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).cache()
    first = emb.filter(F.col("vec_id") < 200)
    write_iceberg_table(first, tbl, mode="overwrite")
    back = read_iceberg(spark, tbl)
    assert back.schema["embedding"].dataType.simpleString() == "array<float>"
    assert _fingerprint(back) == _fingerprint(first)

    meta = read_table_meta(tbl)
    f_emb = next(f for f in meta["schema"]["fields"]
                 if f["name"] == "embedding")
    assert f_emb["type"]["type"] == "list" and f_emb["type"]["element"] == "float"

    # same-schema append: no drift raise, snapshot isolation holds
    write_iceberg_table(
        emb.filter(F.col("vec_id") >= 200), tbl, mode="append"
    )
    assert _fingerprint(read_iceberg(spark, tbl)) == _fingerprint(emb)
    snaps = iceberg_snapshots(tbl)
    assert _fingerprint(
        read_iceberg(spark, tbl, snapshot_id=snaps[0]["snapshot_id"])
    ) == _fingerprint(first)

    # additive evolution with a SECOND list column: fresh field id AND a
    # fresh element-id from the table pool (never a collision)
    evolved = emb.withColumn(
        "emb2", F.transform("embedding", lambda x: x * F.lit(2.0))
    ).limit(10)
    write_iceberg_table(evolved, tbl, mode="append")
    meta2 = read_table_meta(tbl)
    ids = []
    for f in meta2["schema"]["fields"]:
        ids.append(f["id"])
        if isinstance(f["type"], dict):
            ids.append(f["type"]["element-id"])
    assert len(ids) == len(set(ids))  # all field + element ids unique
    allr = read_iceberg(spark, tbl)
    assert allr.filter(F.col("emb2").isNull()).count() == emb.count()
    assert allr.filter(F.col("emb2").isNotNull()).count() == 10
    emb.unpersist()
