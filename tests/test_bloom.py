"""Per-chunk Bloom filters: the point-lookup pruning layer.

Covers the hash/bitset kernel (golden-pinned hashes, no false negatives,
measured fpp), the write-time validation, the bloom-pruned point lookup
(`decode_chunks_where_key_in`) incl. projection composition and
mixed-era sinks, and the automatic bloom preservation through the two
sink-rewrite jobs (delete_from_sink, recluster_sink)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.plans import bloom as B
from hadoop_etl_udfs_spark.plans import lineage


# --- kernel ---------------------------------------------------------------


def test_hashes_are_golden_pinned():
    """The writer/reader hash contract: pandas hash_array with its default
    key. If the environment ever changes these values, every existing
    bloomed sink becomes unreadable-by-bloom — this test makes that loud."""
    h = B.hash_query_ids(["http://a.example/x"], "str")
    assert int(h[0]) == 18052112178349819349
    hi = B.hash_query_ids([1, 2, 3], "int")
    assert [int(x) for x in hi] == [
        6238072747940578789, 15839785061582574730, 2185194620014831856,
    ]


def test_bloom_no_false_negatives_and_sane_fpp():
    vals = [f"http://h{i}.example/p{i}" for i in range(3000)]
    bd = B.bloom_build(pa.array(vals + [None] * 10))
    member_h = B.hash_query_ids(vals, "str")
    for j in range(0, 3000, 97):  # every member individually admitted
        assert B.bloom_contains_any(bd, member_h[j : j + 1])
    fp = sum(
        B.bloom_contains_any(bd, B.hash_query_ids([f"non-{j}"], "str"))
        for j in range(2000)
    )
    assert fp / 2000 < 0.05  # designed ~1% at 10 bits/value, k=6


def test_bloom_domains_and_empty_chunk():
    bi = B.bloom_build(pa.array(range(100, 1100), pa.int64()))
    assert B.bloom_contains_any(bi, B.hash_query_ids([500], "int"))
    assert not B.bloom_contains_any(bi, B.hash_query_ids([10**12], "int"))
    # timestamps hash as epoch in the column's unit (µs), like the zone maps
    ts = pa.array(np.arange(10) * 86_400_000_000, pa.timestamp("us"))
    bt = B.bloom_build(ts)
    assert bt["dom"] == "int"
    assert B.bloom_contains_any(bt, B.hash_query_ids([86_400_000_000], "int"))
    # all-null chunk: explicit empty filter — prunes, never admits
    be = B.bloom_build(pa.array([None, None], pa.string()))
    assert not B.bloom_contains_any(be, B.hash_query_ids(["x"], "str"))
    with pytest.raises(TypeError, match="not bloom-indexable"):
        B.bloom_build(pa.array([b"ab"], pa.binary()))


def test_query_id_domain_guards():
    with pytest.raises(ValueError, match="empty id list"):
        B.hash_query_ids([], "str")
    with pytest.raises(ValueError, match="None in id list"):
        B.hash_query_ids(["a", None], "str")
    with pytest.raises(TypeError, match="non-strings"):
        B.hash_query_ids(["a", 3], "str")
    with pytest.raises(TypeError, match="non-ints"):
        B.hash_query_ids(["a"], "int")


def test_merge_preserves_zone_map():
    import json

    bd = B.bloom_build(pa.array(["a", "b"]))
    merged = json.loads(B.merge_bloom_into_stats('{"min":"a","max":"b"}', bd))
    assert merged["min"] == "a" and merged["max"] == "b"
    assert merged["bloom"]["m"] == bd["m"]


# --- write-time validation ------------------------------------------------


def test_encode_bloom_by_validates_at_write(spark):
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 50, seed=1)
    with pytest.raises(ValueError, match="bloom_by columns"):
        encode_pages(pages, bloom_by=["nope"])
    df = spark.createDataFrame([(1, bytearray(b"x"))], "id long, blob binary")
    with pytest.raises(TypeError, match="bloom filters index"):
        encode_pages(df, shuffle=False, bloom_by=["blob"])


# --- point lookup over a bloomed sink --------------------------------------


@pytest.fixture(scope="module")
def bloomed_sink(spark, tmp_path_factory):
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    d = str(tmp_path_factory.mktemp("bloom") / "sink")
    pages = synthesize_pages(spark, 4000, seed=7).repartition(16).cache()
    pages.count()
    lineage.write_encoded(
        encode_pages(pages, shuffle=False, bloom_by=["url"]), d
    )
    yield spark, d, pages
    pages.unpersist()


def test_point_lookup_prunes_and_is_exact(bloomed_sink):
    spark, src, pages = bloomed_sink
    enc = lineage.read_encoded(spark, src)
    n_chunks = enc.select("chunk_id").distinct().count()
    assert lineage.sink_bloom_columns(enc) == ["url"]

    # victims spread across partitions so >1 chunk is genuinely hit
    victims = [r["url"] for r in pages.orderBy("url").collect()[::1500]]
    got = lineage.decode_chunks_where_key_in(spark, src, "url", victims)
    want = pages.filter(F.col("url").isin(victims))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # a NULL id matches nothing, as in the takedown; no ids match no row
    with_null = lineage.decode_chunks_where_key_in(
        spark, src, "url", victims + [None]
    )
    assert with_null.exceptAll(got).count() == 0
    assert got.exceptAll(with_null).count() == 0
    assert lineage.decode_chunks_where_key_in(spark, src, "url", []).count() == 0

    st = enc.filter(F.col("column") == "url").select("chunk_id", "stats")
    cand = lineage.bloom_candidate_chunks(st, "url", victims, spark).count()
    assert cand < n_chunks / 2  # the prune actually prunes
    assert cand >= 1

    # projection composes; key column decodes but is dropped when unrequested
    sub = lineage.decode_chunks_where_key_in(
        spark, src, "url", victims, columns=["lang"]
    )
    assert sub.columns == ["lang"]
    assert sub.count() == len(victims)

    # domain mismatch fails loud, never silently never-matches
    with pytest.raises(TypeError, match="non-strings"):
        lineage.decode_chunks_where_key_in(spark, src, "url", [42])
    # misspelled key column fails loud
    with pytest.raises(ValueError, match="no chunk rows"):
        lineage.decode_chunks_where_key_in(spark, src, "uurl", victims)


def test_point_lookup_requires_blooms(spark, tmp_path):
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    d = str(tmp_path / "plain")
    pages = synthesize_pages(spark, 200, seed=3)
    lineage.write_encoded(encode_pages(pages, shuffle=False), d)
    assert lineage.sink_bloom_columns(lineage.read_encoded(spark, d)) == []
    with pytest.raises(ValueError, match="no Bloom filters"):
        lineage.decode_chunks_where_key_in(spark, d, "url", ["u"])


def test_mixed_era_sink_keeps_unbloomed_chunks(spark, tmp_path):
    """A sink appended to before blooms existed: bloom-less chunks decode
    conservatively, so the lookup stays exact."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    d = str(tmp_path / "mixed")
    pages = synthesize_pages(spark, 1200, seed=9).repartition(8).cache()
    old = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).repartition(4)
    new = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1).repartition(4)
    both = encode_pages(old, shuffle=False).unionByName(
        encode_pages(new, shuffle=False, bloom_by=["url"])
    )
    lineage.write_encoded(both, d)

    victims = [r["url"] for r in pages.limit(6).collect()]  # both eras
    got = lineage.decode_chunks_where_key_in(spark, d, "url", victims)
    want = pages.filter(F.col("url").isin(victims))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    enc = lineage.read_encoded(spark, d)
    st = enc.filter(F.col("column") == "url").select("chunk_id", "stats")
    cand = lineage.bloom_candidate_chunks(st, "url", victims, spark).count()
    n_old = (
        st.filter(F.get_json_object("stats", "$.bloom.m").isNull()).count()
    )
    n_all = st.count()
    assert n_old >= 1  # the fixture really built a mixed sink
    assert n_old <= cand < n_all  # old chunks all kept, bloomed ones pruned
    pages.unpersist()


# --- rewrite jobs preserve blooms ------------------------------------------


def test_takedown_bloom_prunes_key_scan_and_restamps(bloomed_sink, tmp_path):
    spark, src, pages = bloomed_sink
    enc = lineage.read_encoded(spark, src)
    n_chunks = enc.select("chunk_id").distinct().count()
    victims = [r["url"] for r in pages.limit(3).collect()]

    dst = str(tmp_path / "dst")
    stats = lineage.delete_from_sink(spark, src, dst, victims, key_column="url")
    assert stats["rows_deleted"] == 3
    assert stats["chunks_key_scanned"] < n_chunks  # bloom pruned the scan
    assert stats["chunks_key_scanned"] >= stats["chunks_affected"]

    dst_enc = lineage.read_encoded(spark, dst)
    assert lineage.sink_bloom_columns(dst_enc) == ["url"]
    # the REWRITTEN chunks specifically carry fresh blooms (not just carried)
    new_ids = set(
        r["chunk_id"] for r in dst_enc.select("chunk_id").distinct().collect()
    ) - set(r["chunk_id"] for r in enc.select("chunk_id").distinct().collect())
    if new_ids:
        fresh = dst_enc.filter(
            F.col("chunk_id").isin(list(new_ids))
            & (F.col("column") == "url")
        )
        assert fresh.filter(
            F.get_json_object("stats", "$.bloom.m").isNull()
        ).count() == 0
    # and the result still answers point lookups exactly
    survivor = [r["url"] for r in pages.orderBy(F.desc("url")).limit(1).collect()]
    got = lineage.decode_chunks_where_key_in(spark, dst, "url", survivor)
    assert got.count() == 1


def test_recluster_preserves_blooms(spark, tmp_path):
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    pages = synthesize_pages(spark, 400, seed=5).repartition(4)
    lineage.write_encoded(encode_pages(pages, shuffle=False, bloom_by=["url"]), src)
    lineage.recluster_sink(spark, src, dst, cluster_by="warc_ts")
    dst_enc = lineage.read_encoded(spark, dst)
    assert lineage.sink_bloom_columns(dst_enc) == ["url"]
    url = [r["url"] for r in pages.limit(1).collect()]
    assert lineage.decode_chunks_where_key_in(spark, dst, "url", url).count() == 1


def test_timestamp_key_lookup_and_takedown(spark, tmp_path):
    """Timestamp key columns work end-to-end with LIST ids in the bloom
    domain (epoch-µs ints, the zone-map convention): the exact row filter
    compares in that domain instead of throwing DATA_DIFF_TYPES."""
    from hadoop_etl_udfs_spark.operators.encode import decode_chunks, encode_pages

    schema = "doc_id long, ts timestamp, text string"
    df = (
        spark.range(400)
        .select(
            F.col("id").alias("doc_id"),
            F.timestamp_micros(F.col("id") * 86_400_000_000).alias("ts"),
            F.concat(F.lit("doc-"), F.col("id")).alias("text"),
        )
        .repartition(4)
    )
    src = str(tmp_path / "ts_sink")
    lineage.write_encoded(encode_pages(df, shuffle=False, bloom_by=["ts"]), src)

    ids = [5 * 86_400_000_000, 111 * 86_400_000_000]
    got = lineage.decode_chunks_where_key_in(
        spark, src, "ts", ids, schema=schema
    )
    assert sorted(r["doc_id"] for r in got.collect()) == [5, 111]

    dst = str(tmp_path / "ts_dst")
    stats = lineage.delete_from_sink(
        spark, src, dst, ids, key_column="ts", schema=schema
    )
    assert stats["rows_deleted"] == 2
    assert got.count() == stats["rows_deleted"]  # the keyed ops agree
    assert stats["chunks_key_scanned"] <= stats["chunks_total"]
    left = decode_chunks(lineage.read_encoded(spark, dst), schema=schema)
    assert left.count() == 398
    assert left.filter(F.col("doc_id").isin([5, 111])).count() == 0
