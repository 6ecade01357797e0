"""Physical-plan assertions: the optimizations the engine relies on must
actually appear in the executed plan (a scan reading all columns for a
2-column projection is wrong even if results match)."""

import pytest
from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.operators import relational

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_eq_in_predicates_push_to_scan(spark):
    plan = plan_of(relational.pushdown_eq_in(spark, SF))
    pushed = plan.split("PushedFilters:")[1][:250]
    assert "c_mktsegment" in pushed and "In(c_nationkey" in pushed


def test_projection_prunes_scan_columns(spark):
    plan = plan_of(relational.projection_reorder_duplicate(spark, SF))
    read = plan.split("ReadSchema:")[1][:250]
    # only the three source columns, not all 11 lineitem columns
    assert "l_quantity" in read and "l_orderkey" in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_small_dims_broadcast(spark):
    plan = plan_of(relational.broadcast_join_enrich(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_full_sort(spark):
    plan = plan_of(relational.global_top_k(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_aggregate_has_partial_combine(spark):
    plan = plan_of(relational.q1_pricing_summary(spark, SF))
    # two HashAggregates (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_relational_ops(spark):
    df = relational.q1_pricing_summary(spark, SF)
    df.collect()  # AQE finalizes the plan only after execution
    plan = plan_of(df)
    # "*(n)" prefixes mark whole-stage-codegen spans in the final plan
    assert "*(" in plan
    # no python UDFs anywhere in the relational path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_encode_pipeline_plan_shape(spark):
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 200, seed=1)
    plan = plan_of(encode_pages(pages))
    # exactly one shuffle (the salted repartition), then the Arrow kernel
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInArrow" in plan or "mapInArrow" in plan.lower()
    assert "Sort" in plan  # sortWithinPartitions before encode


def test_gap_sessionization_shares_window_partitioning(spark):
    """Both window functions AND the final per-session aggregate run on the
    single user_id exchange (HashPartitioning(user_id) satisfies the
    (user_id, session_no) clustered distribution); the only other exchange
    is the presentation orderBy."""
    plan = plan_of(relational.gap_sessionization(spark, SF))
    assert plan.count("Window") == 2
    assert plan.count("Exchange") == 2  # window shuffle + final range sort
    assert plan.count("HashAggregate") == 2  # partial+final, no extra shuffle


def test_corpus_pipeline_single_data_shuffle(spark):
    """Quality/lang/fingerprint are scan-stage expressions; the only data
    shuffle is the fingerprint groupBy (plus the presentation orderBy) and
    nothing falls back to Python evaluation."""
    from hadoop_etl_udfs_spark.operators import textstats

    plan = plan_of(textstats.corpus_filter_pipeline(spark, SF))
    assert plan.count("Exchange") == 2  # fp groupBy + final sort
    assert "EvalPython" not in plan


def test_zone_map_composes_with_column_partitioned_sink(spark, tmp_path):
    """The two pruning mechanisms TOGETHER (round-2 verdict item 7): on a
    column-partitioned sink, a column-subset + zone-map decode must show
    (a) PartitionFilters with the column IN list — whole directories pruned
    at planning time — and (b) the chunk-id IN pushed to the parquet scan;
    and the decoded subset must be value-correct vs a plain filtered read."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    out = str(tmp_path / "zmp")
    pages = synthesize_pages(spark, 600, seed=5).orderBy("warc_ts").coalesce(3)
    pages = pages.cache()
    lineage.write_encoded(
        encode_pages(pages, shuffle=False), out, partition_by_column=True
    )
    bounds = pages.agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).collect()[0]
    import datetime as dt

    lo_us = int(bounds["lo"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    hi_us = int(bounds["hi"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    cut = lo_us + (hi_us - lo_us) // 5  # ~first 20% of the time range
    dec = lineage.decode_chunks_where(
        spark, out, "warc_ts", lo_us, cut, columns=["url", "warc_ts"]
    )
    plan = plan_of(dec)
    part = plan.split("PartitionFilters:")[1][:200]
    assert "column" in part and ("url" in part and "warc_ts" in part)
    assert "html" not in part and "text" not in part
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "In(chunk_id" in pushed or "EqualTo(chunk_id" in pushed
    # zone map is chunk-granular: surviving chunks may carry rows past the
    # cut, but every row BEFORE the cut must be present and value-correct
    got = {r["url"]: r["warc_ts"] for r in dec.collect()}
    want = {
        r["url"]: r["warc_ts"]
        for r in pages.select("url", "warc_ts")
        .filter(F.unix_micros("warc_ts") <= cut)
        .collect()
    }
    assert set(want) <= set(got)
    assert all(got[u] == t for u, t in want.items())
    assert len(got) < 600  # some chunks actually pruned
    pages.unpersist()


def test_clustered_zone_map_pushes_range_to_scan(spark, tmp_path):
    """Scan-level zone maps: a cluster-stamped sink carries the chunk's
    [min,max] of the declared cluster column on every row, so the range
    predicate pushes into the parquet scan itself — no driver-side keep-set
    collect, no Join, PushedFilters on cluster_lo/cluster_hi. Rows in range
    are present and value-correct; chunks fully out of range are pruned."""
    import datetime as dt

    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    out = str(tmp_path / "clus")
    pages = synthesize_pages(spark, 600, seed=8).orderBy("warc_ts").coalesce(3)
    pages = pages.cache()
    lineage.write_encoded(
        encode_pages(pages, shuffle=False, cluster_by="warc_ts"), out
    )
    b = pages.agg(
        F.min(F.unix_micros("warc_ts")).alias("lo"),
        F.max(F.unix_micros("warc_ts")).alias("hi"),
    ).collect()[0]
    cut = b["lo"] + (b["hi"] - b["lo"]) // 5
    dec = lineage.decode_chunks_where_clustered(
        spark, out, b["lo"], cut, columns=["url", "warc_ts"]
    )
    plan = plan_of(dec)
    assert "Join" not in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "cluster_hi" in pushed and "cluster_lo" in pushed
    got = {r["url"]: r["warc_ts"] for r in dec.collect()}
    want = {
        r["url"]: r["warc_ts"]
        for r in pages.select("url", "warc_ts")
        .filter(F.unix_micros("warc_ts") <= cut)
        .collect()
    }
    assert set(want) <= set(got)
    assert all(got[u] == t for u, t in want.items())
    assert len(got) < 600  # chunk pruning actually happened
    # a sink without cluster stamps must fail loudly, not decode everything
    out2 = str(tmp_path / "noclus")
    lineage.write_encoded(encode_pages(pages, shuffle=False), out2)
    enc2 = lineage.read_encoded(spark, out2)
    assert enc2.filter(F.col("cluster_lo").isNotNull()).count() == 0
    import pytest as _pytest

    # round-3 sink, columns present but all-NULL (encoded without
    # cluster_by): the clustered decode must raise, not scan everything
    with _pytest.raises(ValueError, match="no non-NULL cluster stamps"):
        lineage.decode_chunks_where_clustered(spark, out2, 0, 1)
    # and a misspelled / non-numeric cluster column fails at WRITE time
    with _pytest.raises(ValueError, match="not in input columns"):
        encode_pages(pages, shuffle=False, cluster_by="warcts")
    with _pytest.raises(TypeError, match="non-numeric-domain"):
        encode_pages(pages, shuffle=False, cluster_by="url")
    legacy = enc2.drop("cluster_lo", "cluster_hi")
    legacy.write.mode("overwrite").option("compression", "none").parquet(
        str(tmp_path / "legacy" / "chunks")
    )
    with _pytest.raises(ValueError, match="no non-NULL cluster stamps"):
        lineage.decode_chunks_where_clustered(
            spark, str(tmp_path / "legacy"), 0, 1
        )
    pages.unpersist()


def test_clustered_decode_or_of_ranges(spark, tmp_path):
    """ranges=[(lo,hi),...] (round 8): scattered ranges keep ONLY their
    chunks — the single [min,max] envelope would keep every chunk between
    (measured 15/16 on the ann_sink bench, the reason this exists) — and
    a chunk overlapping TWO ranges decodes exactly once (one scan, one
    OR predicate — never per-range decode calls)."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage

    out = str(tmp_path / "ranges_sink")
    # 4 partitions of 16 consecutive k values each -> chunk stamps
    # [0,15], [16,31], [32,47], [48,63] per column
    df = (
        spark.range(64)
        .select(F.col("id").alias("k"), F.concat(F.lit("v"), "id").alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    lineage.write_encoded(encode_pages(df, shuffle=False, cluster_by="k"), out)
    schema = "k bigint, v string"
    # scattered unit ranges: keep the [0,15] and [32,47] chunks only
    dec = lineage.decode_chunks_where_clustered(
        spark, out, schema=schema, ranges=[(0, 0), (40, 40)]
    )
    ks = sorted(r["k"] for r in dec.collect())
    assert ks == list(range(0, 16)) + list(range(32, 48))
    # the envelope form over the same probes drags in the chunks between
    env = lineage.decode_chunks_where_clustered(spark, out, 0, 40, schema=schema)
    assert env.count() == 48
    # a chunk overlapping TWO ranges decodes exactly once (no duplicates)
    both = lineage.decode_chunks_where_clustered(
        spark, out, schema=schema, ranges=[(10, 20), (25, 40)]
    )
    rows = [r["k"] for r in both.collect()]
    # first three chunks kept ([16,31] overlaps BOTH ranges), each once
    assert len(rows) == len(set(rows)) == 48
    # guard rails: lo/hi XOR ranges, and non-empty ranges
    with pytest.raises(ValueError, match="not both"):
        lineage.decode_chunks_where_clustered(
            spark, out, 0, 1, schema=schema, ranges=[(0, 0)]
        )
    with pytest.raises(ValueError, match="lo/hi or ranges"):
        lineage.decode_chunks_where_clustered(spark, out, schema=schema)
    with pytest.raises(ValueError, match="non-empty"):
        lineage.decode_chunks_where_clustered(spark, out, schema=schema, ranges=[])


def test_zone_map_small_keep_pushes_in_filter(spark, tmp_path):
    """The small-keep path pushes chunk ids as an IN filter (PushedFilters
    at the parquet scan) instead of planning a join."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    out = str(tmp_path / "zm")
    pages = synthesize_pages(spark, 500, seed=3).orderBy("url").coalesce(2)
    lineage.write_encoded(encode_pages(pages, shuffle=False), out)
    dec = lineage.decode_chunks_where(spark, out, "url", "https://", "https://z")
    plan = plan_of(dec)
    assert "Join" not in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    # Catalyst renders a 1-element isin as EqualTo, larger sets as In
    assert "In(chunk_id" in pushed or "EqualTo(chunk_id" in pushed


def test_recluster_sink_makes_unclustered_sink_prunable(spark, tmp_path):
    """OPTIMIZE path: a sink encoded WITHOUT cluster_by (clustered decode
    raises) is rewritten range-clustered by recluster_sink; the rewritten
    sink prunes chunks on a time-range decode, values bit-match the
    source, and a second recluster to the same dst fails loud."""
    from hadoop_etl_udfs_spark.operators.encode import (
        encode_pages,
        verify_roundtrip,
    )
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    # deliberately NOT time-ordered: shuffled input, no cluster stamps
    pages = synthesize_pages(spark, 800, seed=21).repartition(4).cache()
    lineage.write_encoded(encode_pages(pages, shuffle=False), src)
    with pytest.raises(ValueError, match="no non-NULL cluster stamps"):
        lineage.decode_chunks_where_clustered(spark, src, 0, 1)

    lineage.recluster_sink(spark, src, dst, "warc_ts", n_partitions=4)
    enc2 = lineage.read_encoded(spark, dst)
    assert enc2.filter(F.col("cluster_lo").isNull()).count() == 0
    # full roundtrip of the rewritten sink is bit-identical to the source
    assert verify_roundtrip(pages, enc2)["ok"]

    b = pages.agg(
        F.min(F.unix_micros("warc_ts")).alias("lo"),
        F.max(F.unix_micros("warc_ts")).alias("hi"),
    ).collect()[0]
    cut = b["lo"] + (b["hi"] - b["lo"]) // 5
    total_chunks = enc2.select("chunk_id").distinct().count()
    kept_chunks = (
        enc2.filter(
            ~((F.col("cluster_hi") < b["lo"]) | (F.col("cluster_lo") > cut))
        )
        .select("chunk_id")
        .distinct()
        .count()
    )
    assert kept_chunks < total_chunks  # range layout => narrow windows
    dec = lineage.decode_chunks_where_clustered(spark, dst, b["lo"], cut)
    got = {r["url"]: r["warc_ts"] for r in dec.collect()}
    want = {
        r["url"]: r["warc_ts"]
        for r in pages.filter(F.unix_micros("warc_ts") <= cut)
        .select("url", "warc_ts")
        .collect()
    }
    assert set(want) <= set(got)
    assert all(got[u] == t for u, t in want.items())
    with pytest.raises(Exception):  # dst exists: no silent append-mix
        lineage.recluster_sink(spark, src, dst, "warc_ts", n_partitions=4)
    # an all-null cluster column would rewrite into an unprunable sink —
    # the recluster must fail loud, not report success
    nul = spark.createDataFrame(
        [("a", None), ("b", None)], "url string, v long"
    )
    src3 = str(tmp_path / "src3")
    lineage.write_encoded(encode_pages(nul, shuffle=False), src3)
    with pytest.raises(ValueError, match="all-null"):
        lineage.recluster_sink(
            spark, src3, str(tmp_path / "dst3"), "v",
            schema="url string, v long", n_partitions=1,
        )
    pages.unpersist()


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark shingle set is the SMALL side — it must broadcast
    (map-side semi-join against the corpus scan); the only shuffle is the
    per-doc overlap aggregate. Benchmark member docs flag themselves
    (full self-overlap), non-benchmark flagged docs need >= MIN_OVERLAP."""
    from hadoop_etl_udfs_spark.operators import textstats

    df = textstats.decontamination_check(spark, SF)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    rows = df.collect()
    assert rows, "sf0.001 corpus must contain contaminated docs"
    assert all(r["n_overlap"] >= textstats.MIN_OVERLAP for r in rows)
    flagged = {r["doc_id"] for r in rows}
    bench = {r["doc_id"] for r in rows if r["doc_id"] % textstats.BENCH_EVERY == 0}
    assert bench  # the planted benchmark members flag themselves
    assert flagged >= bench


def test_corpus_split_is_content_based_and_shuffle_free(spark):
    """Exact duplicates (same fingerprint) always land in the same split —
    the content-hash property that prevents train/eval leakage through
    copies; the split itself is a scan-stage expression (the only Exchange
    is the presentation sort)."""
    from hadoop_etl_udfs_spark.operators import textstats

    df = textstats.corpus_split(spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1  # rangepartitioning for the orderBy
    assert df.count() == 500 and set(df.columns) == {"doc_id", "bucket", "split"}


def test_corpus_split_duplicates_share_a_split(spark, tmp_path):
    """Planted exact duplicates (same text modulo whitespace) get the same
    bucket and split — the content-hash property that prevents train/eval
    leakage through copies; assignment is stable under corpus growth."""
    from hadoop_etl_udfs_spark.operators import textstats

    rows = [(i, f"document body {i % 40}  with\textra   spaces") for i in range(120)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r["doc_id"]: r for r in textstats.corpus_split(spark, str(tmp_path)).collect()}
    assert len(out) == 120
    for i in range(120):
        twin = out[i % 40]   # same normalized text as doc i
        assert out[i]["bucket"] == twin["bucket"]
        assert out[i]["split"] == twin["split"]
    assert len({r["bucket"] for r in out.values()}) > 1  # sanity: buckets vary
    # growth stability: a half-corpus run assigns the shared docs identically
    sub_dir = tmp_path / "half"
    spark.read.parquet(str(tmp_path / "documents.parquet")).filter(
        "doc_id < 60"
    ).write.parquet(str(sub_dir / "documents.parquet"))
    sub = {r["doc_id"]: r for r in textstats.corpus_split(spark, str(sub_dir)).collect()}
    assert all(sub[d]["split"] == out[d]["split"] for d in sub)


def test_pii_redaction_and_segment_dedup_on_planted_data(spark, tmp_path):
    """Both round-4 text ops exercised on data that actually triggers them
    (the sf0.01 corpus has no PII and no repeated segments — the
    content_flags lesson), INCLUDING a DuckDB mini-oracle run on the same
    planted rows so engine/oracle agreement is proven on hot inputs, not
    just on the flag-free corpus."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    seg = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "ping 10.0.0.1 or mail a@b.com via https://x.y/z?u=c@d.ee end"),
        (1, f"{seg} {seg} unique tail words here"),  # repeated 10-word segment
        (2, "clean text with no pii and no repeats at all"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )

    red = {r["doc_id"]: r for r in textstats.pii_redaction(spark, str(tmp_path)).collect()}
    # the email inside the URL was swallowed by the URL redaction: 1 each
    assert red[0]["n_urls"] == 1 and red[0]["n_emails"] == 1 and red[0]["n_ips"] == 1
    assert red[2]["n_urls"] == red[2]["n_emails"] == red[2]["n_ips"] == 0

    dd = {r["doc_id"]: r for r in textstats.segment_dedup(spark, str(tmp_path)).collect()}
    assert dd[1]["n_segs"] == 3 and dd[1]["n_uniq_segs"] == 2  # dup dropped
    assert dd[2]["n_segs"] == 1 and dd[2]["n_uniq_segs"] == 1

    # mini-oracle: the SAME oracle SQL the driver runs, over the planted rows
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracles = entry.oracle_sql()
    for name, spark_rows in (("pii_redaction", red), ("segment_dedup", dd)):
        got = con.execute(oracles[name]).fetchall()
        cols = [d[0] for d in con.description]
        for orow in got:
            srow = spark_rows[orow[cols.index("doc_id")]]
            for c, v in zip(cols, orow):
                assert srow[c] == v, (name, c, srow[c], v)


def test_boilerplate_removal_on_planted_data(spark, tmp_path):
    """Cross-doc boilerplate removal on data that actually triggers it,
    with the driver oracle run as an in-test DuckDB mini-oracle on the
    same planted rows (the planted-data model). Plants cover the decision
    table: a segment in >= 3 distinct docs (removed everywhere, including
    from a doc where it sits at a DIFFERENT aligned position), a segment
    in only 2 docs (kept), an INTRA-doc repeat (distinct-doc count 1 —
    segment_dedup's job, explicitly NOT boilerplate), and a document that
    is 100%% boilerplate (NULL clean_md5 in both engines)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    b = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"          # boilerplate (4 docs)
    c = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"          # intra-doc repeat only
    d = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"          # shared by 2 docs: kept
    pad = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"        # shared by 2 docs: kept
    rows = [
        (0, f"{b} {pad}"),          # boiler at segment 0
        (1, f"{b} tail words"),     # boiler at segment 0, ragged tail
        (2, f"{pad} {b}"),          # boiler at segment 1 (different pos)
        (3, f"{c} {c}"),            # repeated intra-doc: NOT boilerplate
        (4, b),                     # all-boilerplate doc
        (5, f"{d} q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
        (6, f"{d} other words entirely"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in textstats.boilerplate_removal(spark, str(tmp_path)).collect()
    }
    assert len(out) == 7
    assert out[0]["n_boiler_segs"] == 1 and out[0]["n_kept_segs"] == 1
    assert out[1]["n_boiler_segs"] == 1 and out[1]["n_kept_segs"] == 1
    assert out[2]["n_boiler_segs"] == 1 and out[2]["n_kept_segs"] == 1
    # intra-doc repetition is not boilerplate (distinct-doc count is 1)
    assert out[3]["n_boiler_segs"] == 0 and out[3]["n_kept_segs"] == 2
    # all-boilerplate doc: zero kept segments, NULL md5 (not md5(""))
    assert out[4]["n_kept_segs"] == 0 and out[4]["clean_md5"] is None
    # df=2 < BOILERPLATE_MIN_DOCS: kept
    assert out[5]["n_boiler_segs"] == 0 and out[6]["n_boiler_segs"] == 0
    # docs 0 and 2 keep exactly `pad`: identical cleaned text either side
    assert out[0]["clean_md5"] == out[2]["clean_md5"]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = con.execute(entry.oracle_sql()["boilerplate_removal"]).fetchall()
    cols = [dsc[0] for dsc in con.description]
    assert len(got) == 7
    for orow in got:
        srow = out[orow[cols.index("doc_id")]]
        for col_name, v in zip(cols, orow):
            assert srow[col_name] == v, (col_name, srow[col_name], v)


def test_repetition_signals_kernel_matches_oracle(spark, tmp_path):
    """repetition_signals runs as a doc-local mapInArrow kernel; its
    reference is the DuckDB ``repetition_signals`` oracle over the same
    documents.parquet. Every output field must match exactly, including
    the tokenizer edge cases — empty doc, spaces-only doc (trim leaves
    ''), TAB-led doc (trim strips only ASCII spaces, so split yields a
    leading '' token), single-word doc, exact-window doc, NULL text (no
    row in either engine), a repeated 2-gram and inner double spaces —
    and a fuzzed word-soup corpus."""
    import random

    import duckdb

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (1, "a b c d e f g h i j a b c d e f g h i j"),  # doubled segment
        (2, ""),                                          # empty
        (3, "   "),                                       # spaces-only
        (4, "\tx y\tz"),                                  # tab-led + inner tab
        (5, "lonely"),
        (6, " ".join(["p q"] * 30)),                      # hot 2gram
        (7, " ".join(vocab[:10])),                        # exactly one window
        (8, None),                                        # NULL text: no row
        (9, "a b a b"),                                   # 2gram occurs twice
        (10, " x  y "),                                   # edge + inner spaces
    ] + [
        (100 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(60)
    ]
    docs = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs)
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_signals(spark, str(tmp_path)).collect()
    }

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}/*.parquet'")
    want = con.execute(entry.oracle_sql()["repetition_signals"]).fetchall()
    cols = [dsc[0] for dsc in con.description]
    want = {r[cols.index("doc_id")]: dict(zip(cols, r)) for r in want}
    assert len(got) == len(want) == len(rows) - 1 == 69
    assert 8 not in got
    for doc_id, orow in want.items():
        assert got[doc_id] == orow, (doc_id, got.get(doc_id), orow)


def test_repetition_signals_on_planted_data(spark, tmp_path):
    """Gopher-style repetition signals on data that triggers EVERY signal
    (the sf corpora only heat the top-2gram path — the content_flags
    lesson), with the driver oracle run as an in-test DuckDB mini-oracle
    on the same planted rows. Plants: a tripled 10-word segment (dup-seg
    fractions), an alternating two-word doc (top-2gram dominant, dup-5gram
    hot as a side effect), an embedded repeated 5-gram in otherwise-unique
    text (dup-5gram fires ALONE — below the seg and 2gram thresholds), a
    clean doc, and an empty doc (the greatest(...,1) denominators)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    seg = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    rows = [
        (0, f"{seg} {seg} {seg} t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
        (1, "x y x y x y x y x y"),
        (2, "p q r s t u1 u2 u3 u4 u5 p q r s t v1 v2 v3 v4 v5"),
        (3, "all twenty words here are completely distinct from one "
            "another so nothing repeats anywhere in this document body "
            "at all"),
        (4, ""),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in textstats.repetition_signals(spark, str(tmp_path)).collect()
    }
    assert len(out) == 5
    # doc 0: 3 of 4 segment occurrences are the tripled segment
    assert out[0]["dup_seg_frac"] == 0.75 and out[0]["repetition_flag"]
    assert out[0]["dup_seg_char_frac"] > 0.5
    # doc 1: "x y" occurs 5x (len 3) over 19 normalized chars
    assert out[1]["top_2gram_char_frac"] == round(15 / 19, 6)
    assert out[1]["repetition_flag"]
    # doc 2: ONLY the 5-gram signal fires (2 occurrences x 9 chars / 49)
    assert out[2]["dup_seg_frac"] == 0.0
    assert out[2]["top_2gram_char_frac"] <= 0.2
    assert out[2]["dup_5gram_char_frac"] == round(18 / 49, 6)
    assert out[2]["repetition_flag"]
    # doc 3: clean — no signal, no flag
    assert out[3]["dup_seg_frac"] == out[3]["dup_5gram_char_frac"] == 0.0
    assert not out[3]["repetition_flag"]
    # doc 4: empty text — all-zero signals via the greatest(...,1) guards
    assert out[4]["dup_seg_frac"] == out[4]["top_2gram_char_frac"] == 0.0
    assert not out[4]["repetition_flag"]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = con.execute(entry.oracle_sql()["repetition_signals"]).fetchall()
    cols = [dsc[0] for dsc in con.description]
    assert len(got) == 5
    for orow in got:
        srow = out[orow[cols.index("doc_id")]]
        for col_name, v in zip(cols, orow):
            assert srow[col_name] == v, (col_name, srow[col_name], v)


def test_lm_perplexity_scores_on_planted_data(spark, tmp_path):
    """Unigram-LM scoring on data that exercises every branch, with the
    driver oracle run as an in-test DuckDB mini-oracle on the same planted
    rows. Plants: > LM_TOP_K distinct words (so the top-K cut and the OOV
    floor both fire, with a cnt TIE at the boundary broken by word order),
    an all-common-words doc (unflagged), an all-rare-words doc (flagged),
    and a whitespace-only doc (zero tokens — no output row either side)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    assert textstats.LM_TOP_K == 24  # plant sizes below depend on it
    # total tokens must exceed e^5.25 ≈ 190 so a cnt-1 word's NLL
    # (= ln(total)) clears LM_FLAG_NLL_MICRO — hence x60, total 392
    common = "ca cb cc " * 60                       # 3 words, cnt 120 each
    rares = [f"r{i:02d}" for i in range(30)]        # 30 words, cnt 1 each
    rows = [
        (0, common.strip()),                        # all in-vocab: low NLL
        (1, " ".join(rares)),                       # mostly OOV: high NLL
        (2, f"{common.strip()} {rares[0]} {rares[1]}"),
        (3, "   "),                                 # zero tokens: no row
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in textstats.lm_perplexity_scores(spark, str(tmp_path)).collect()
    }
    assert sorted(out) == [0, 1, 2]                 # doc 3 has no tokens
    # vocab = 3 common + 21 of 30 tied-cnt rares (lex order breaks the tie)
    assert out[0]["oov_tokens"] == 0 and not out[0]["lm_flag"]
    assert out[1]["oov_tokens"] == 9 and out[1]["lm_flag"]
    assert out[2]["oov_tokens"] == 0                # r00, r01 made the cut
    assert out[1]["n_tokens"] == 30

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = con.execute(entry.oracle_sql()["lm_perplexity_scores"]).fetchall()
    cols = [dsc[0] for dsc in con.description]
    assert len(got) == 3
    for orow in got:
        srow = out[orow[cols.index("doc_id")]]
        for col_name, v in zip(cols, orow):
            assert srow[col_name] == v, (col_name, srow[col_name], v)


def test_lm_bigram_scores_on_planted_data(spark, tmp_path):
    """Bigram-LM scoring on data exercising every branch, with the driver
    oracle as an in-test DuckDB mini-oracle on the same planted rows.
    Plants: > LM2_TOP_K distinct bigrams (the cut fires, with the cnt-1
    tie at the boundary broken by (w1, w2) order), a repeated-bigram doc
    whose kept pairs score conditional-probability 1 (lp 0 — the hit
    path), a chain doc whose singleton bigrams ALSO score lp 0 (c12 = c1 =
    1 — the conditional table's tiny-corpus quirk, asserted on purpose), a
    doc straddling the cut (hit + stupid-backoff-to-OOV-floor mix,
    unflagged), an all-backoff all-OOV doc (flagged), and one-token /
    whitespace docs (no pairs — no output row either side)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    assert textstats.LM2_TOP_K == 48  # plant sizes below depend on it
    assert textstats.LM_TOP_K == 24
    common = "ca cb " * 60                           # (ca,cb)x60 (cb,ca)x59
    rares = " ".join(f"r{i:02d}" for i in range(30))  # 29 cnt-1 pairs
    extras = " ".join(f"s{i:02d}" for i in range(30))  # 29 more: cut fires
    oovs = " ".join(f"t{i:02d}" for i in range(20))   # 19 pairs, all cut
    rows = [
        (0, common.strip()),   # top-2 bigrams, p=1 each way: sum 0, unflagged
        (1, rares),            # all 29 pairs kept, c12=c1=1: sum 0, unflagged
        (2, extras),           # 17 kept (lex tie-break) + 12 backoff: unflagged
        (3, oovs),             # all pairs cut, all w2 OOV: floor path, flagged
        (4, "solo"),           # one token: no pairs, no row
        (5, "   "),            # zero tokens: no row
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in textstats.lm_bigram_scores(spark, str(tmp_path)).collect()
    }
    assert sorted(out) == [0, 1, 2, 3]
    assert out[0]["hit_pairs"] == 119 and out[0]["sum_lp2_micro"] == 0
    assert not out[0]["lm2_flag"]
    assert out[1]["hit_pairs"] == 29 and out[1]["sum_lp2_micro"] == 0
    assert out[2]["hit_pairs"] == 17 and out[2]["n_pairs"] == 29
    assert not out[2]["lm2_flag"]
    # doc 3: every pair backs off into the OOV floor — per-pair micro-NLL
    # is exactly -(round(ln(0.4)e6) + round(ln(1/total)e6)), total = 201
    assert out[3]["hit_pairs"] == 0
    assert out[3]["sum_lp2_micro"] == 19 * (-916291 + -5303305)
    assert out[3]["lm2_flag"]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = con.execute(entry.oracle_sql()["lm_bigram_scores"]).fetchall()
    cols = [dsc[0] for dsc in con.description]
    assert len(got) == 4
    for orow in got:
        srow = out[orow[cols.index("doc_id")]]
        for col_name, v in zip(cols, orow):
            assert srow[col_name] == v, (col_name, srow[col_name], v)


def test_source_kl_divergence_on_planted_data(spark, tmp_path):
    """KL drift monitor on planted sources, with the driver oracle as an
    in-test DuckDB mini-oracle. Plants: two sources with IDENTICAL word
    distributions (their only divergence from the corpus is the small
    drifted source's mass share — below the flag), one drifted source with
    a disjoint vocabulary (KL = ln(t_g/t_z) exactly, hand-pinned in
    micro-nats — flagged), and a whitespace-only source (zero tokens — no
    output row either side)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    block = "c1 c2 c3 c4 " * 20                     # 80 tokens, uniform
    rows = [
        (0, block.strip(), "en", "srcA", 0),
        (1, block.strip(), "en", "srcB", 0),
        (2, "zz zz zz zz", "en", "srcZ", 0),        # disjoint vocab, tiny
        (3, "   ", "en", "srcW", 0),                # zero tokens: no row
    ]
    cols = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, cols).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["source"]: r
        for r in textstats.source_kl_divergence(spark, str(tmp_path)).collect()
    }
    assert sorted(out) == ["srcA", "srcB", "srcZ"]
    # identical-distribution sources agree exactly and sit under the flag:
    # their whole divergence is the drifted source's 4/164 mass share
    assert out["srcA"]["kl_sum_micro"] == out["srcB"]["kl_sum_micro"]
    assert not out["srcA"]["drift_flag"] and not out["srcB"]["drift_flag"]
    # the drifted source: every token's log-ratio is ln((4*164)/(4*4)) =
    # ln(41), quantized once -> 3713572 micro-nats, weighted by c_sw = 4
    assert out["srcZ"]["n_tokens"] == 4
    assert out["srcZ"]["kl_sum_micro"] == 4 * 3713572
    assert out["srcZ"]["drift_flag"]

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source",
                                    "n_chars"]),
    )
    got = con.execute(entry.oracle_sql()["source_kl_divergence"]).fetchall()
    ocols = [dsc[0] for dsc in con.description]
    assert len(got) == 3
    for orow in got:
        srow = out[orow[ocols.index("source")]]
        for col_name, v in zip(ocols, orow):
            assert srow[col_name] == v, (col_name, srow[col_name], v)


def test_boilerplate_and_lm_small_sides_broadcast(spark):
    """The round-7 text operators' small sides must BROADCAST back against
    the corpus scan (the decontamination precedent): the surviving
    boilerplate-segment set and the top-K LM vocabulary are both bounded
    by construction, so neither may induce a second corpus-wide shuffle."""
    from hadoop_etl_udfs_spark.operators import textstats

    assert "BroadcastExchange" in plan_of(
        textstats.boilerplate_removal(spark, SF)
    )
    assert "BroadcastExchange" in plan_of(
        textstats.lm_perplexity_scores(spark, SF)
    )
    # the bigram scorer joins TWO bounded tables back: the K2-row bigram
    # table and the K-row unigram backoff table — both must broadcast
    assert plan_of(textstats.lm_bigram_scores(spark, SF)).count(
        "BroadcastExchange"
    ) >= 2


def test_neardup_safe_split_keeps_clusters_in_one_split(spark):
    """The leakage property corpus_split_neardup_safe exists for: every
    near-dup cluster lands entirely in ONE split, and docs outside any
    cluster keep exactly corpus_split's own assignment (same bucket)."""
    from hadoop_etl_udfs_spark.operators import dedup, textstats

    sf = "/root/testdata/sf0.001"
    out = textstats.corpus_split_neardup_safe(spark, sf)
    clustered = {
        r["doc_id"]: r["cluster_rep"]
        for r in dedup.dedup_clusters_star_checked(spark, sf).collect()
    }
    assert clustered  # the corpus does contain near-dup clusters
    base = {r["doc_id"]: r["bucket"] for r in textstats.corpus_split(spark, sf).collect()}
    splits_per_cluster = {}
    for r in out.collect():
        if r["doc_id"] in clustered:
            rep = clustered[r["doc_id"]]
            assert r["rep_id"] == rep
            splits_per_cluster.setdefault(rep, set()).add(r["split"])
        else:
            assert r["rep_id"] == r["doc_id"]
            assert r["rep_bucket"] == base[r["doc_id"]]
    assert all(len(s) == 1 for s in splits_per_cluster.values())


def test_neardup_safe_split_production_hash_form(spark):
    """The xxhash64 composable form (r7 verdict item 3): same leakage
    guarantee — one split per PRODUCTION-hash cluster — and singletons get
    exactly corpus_split's content-hash assignment (the split bucket is the
    shared md5 policy expression; only the cluster graph varies with the
    hash family)."""
    from hadoop_etl_udfs_spark.operators import dedup, textstats

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = textstats.corpus_split_neardup_safe_df(docs, method="xxhash64")
    clustered = {
        r["doc_id"]: r["cluster_rep"]
        for r in dedup.duplicate_clusters_star(
            dedup.minhash_lsh_pairs_df(docs, method="xxhash64")
        ).collect()
    }
    assert clustered  # the corpus does contain production-hash clusters
    base = {
        r["doc_id"]: r["bucket"]
        for r in textstats.corpus_split(spark, sf).collect()
    }
    splits_per_cluster = {}
    for r in out.collect():
        if r["doc_id"] in clustered:
            assert r["rep_id"] == clustered[r["doc_id"]]
            splits_per_cluster.setdefault(r["rep_id"], set()).add(r["split"])
        else:
            assert r["rep_id"] == r["doc_id"]
            assert r["rep_bucket"] == base[r["doc_id"]]
    assert splits_per_cluster
    assert all(len(s) == 1 for s in splits_per_cluster.values())


def test_content_flags_on_text_with_real_emails_and_urls(spark, tmp_path):
    """content_flags must not crash — and must count — on text that actually
    contains emails/URLs. The patterns have zero capture groups, so
    regexp_extract_all needs an explicit idx=0 (Spark defaults to group 1
    and raises INVALID_PARAMETER_VALUE.REGEX_GROUP_INDEX otherwise); the
    sf0.01 synthetic corpus has no emails/URLs, which is how that crash
    once survived the oracle gate."""
    from hadoop_etl_udfs_spark.operators import textstats

    rows = [
        (0, "contact a@b.com or c.d+e@sub.example.org today"),
        (1, "see https://x.y/path and http://z.example.com?q=1 now"),
        (2, "plain text with no flagged content at all"),
        (3, "mixed: mail me@host.io via https://link.example"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r["doc_id"]: r for r in textstats.content_flags(spark, str(tmp_path)).collect()}
    assert out[0]["n_emails"] == 2 and out[0]["n_urls"] == 0
    assert out[1]["n_emails"] == 0 and out[1]["n_urls"] == 2
    assert out[2]["n_emails"] == 0 and out[2]["n_urls"] == 0
    assert out[3]["n_emails"] == 1 and out[3]["n_urls"] == 1
    assert all(0 < r["ttr"] <= 1 for r in out.values())


def test_ivf_sink_path_pushes_cluster_stamps_to_scan(spark, tmp_path):
    """The ON-DISK IVF twin (r6 verdict item 5): build_ivf_encoded_sink
    writes the cell-clustered sink through write_encoded;
    cosine_topk_ivf_over_sink searches it via decode_chunks_where_clustered,
    so the stamp range is a PushedFilter at the parquet scan (row groups of
    pruned chunks never read) — and the top-k values equal the
    localCheckpoint driver-row variant AND the unencoded cosine_topk_ivf."""
    import numpy as np

    from hadoop_etl_udfs_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = str(tmp_path / "ivf_sink")
    cents = similarity.build_ivf_encoded_sink(emb, out)
    # the build persisted its quantizer beside the sink; the search loads
    # it when centroids aren't passed (the operational contract)
    assert (similarity.load_ivf_centroids(out) == cents).all()
    q_vec = np.array(
        emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"],
        dtype=np.float32,
    )
    res = similarity.cosine_topk_ivf_over_sink(
        spark, out, q_vec, k=10, exclude_vec_id=0
    )
    plan = plan_of(res)
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "cluster_lo" in pushed and "cluster_hi" in pushed
    got = [(r["vec_id"], r["cos_sim"]) for r in res.collect()]
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.cosine_topk_ivf(spark, SF, 0, 10).collect()
    ]
    assert got == want and len(got) == 10
    # a sink without a persisted quantizer must fail loud, not silently
    # probe wrong cells with the demo quantizer
    import os

    os.remove(os.path.join(out, "ivf_centroids.npy"))
    with pytest.raises(FileNotFoundError, match="ivf_centroids"):
        similarity.cosine_topk_ivf_over_sink(spark, out, q_vec)


def test_ivf_recall_identical_over_decoded_sink(spark, tmp_path):
    """The last composition the sink story didn't cover (r7 verdict item
    6): the EVALUATION harness answers identically over the engine's own
    compressed sink — ann_recall_at_k_ivf run on the decoded side of a
    build_ivf_encoded_sink sink returns recall rows value-identical to
    the raw-table run (decode is bit-identical, the probe/assign fp fold
    is shared, so per-query recall cannot move)."""
    from hadoop_etl_udfs_spark.operators import similarity
    from hadoop_etl_udfs_spark.operators.encode import decode_chunks
    from hadoop_etl_udfs_spark.plans.lineage import read_encoded

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = str(tmp_path / "ivf_sink")
    similarity.build_ivf_encoded_sink(emb, out)
    dec = decode_chunks(
        read_encoded(spark, out),
        schema="vec_id bigint, embedding array<float>",
    )
    raw = sorted(map(tuple, similarity.ann_recall_at_k_ivf_df(emb).collect()))
    over = sorted(map(tuple, similarity.ann_recall_at_k_ivf_df(dec).collect()))
    assert raw == over
    assert len(raw) == 5  # the sf0.001 stride sample: 500/100 queries


def test_bm25_topk_on_planted_data(spark, tmp_path):
    """BM25 retrieval on a corpus built to pin every decision the operator
    makes — rare-term idf dominance, tf saturation, length normalization,
    the k-boundary tie broken by doc_id, docs with zero query-term hits
    excluded, a query term absent from the corpus (df=0), and a zero-token
    doc — with the driver oracle run as an in-test DuckDB mini-oracle on
    the same planted rows, compared IN ORDER (top-k output order is part
    of the contract)."""
    import duckdb
    import pandas as pd
    import pytest

    import __spark_entry__ as entry
    from hadoop_etl_udfs_spark.operators import textstats

    filler = " ".join(["pad"] * 40)
    rows = [
        (0, "dup " + filler),                  # rare term, long doc
        (1, "dup dup dup"),                    # rare term, tf=3, SHORT doc
        (2, "vector hash " + filler),          # two common terms
        (3, "vector " + filler),               # one common term
        (4, "vector " + filler),               # identical to 3: exact tie,
        (5, filler),                           #   broken by doc_id
        (6, "   "),                            # zero tokens after trim/filter
        (7, "hash hash hash hash " + filler),  # tf saturation vs doc 2
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = textstats.bm25_topk(spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r for r in got}

    # docs 5 and 6 have no query-term hits: excluded from the result
    assert set(by_id) == {0, 1, 2, 3, 4, 7}
    # the short rare-term doc outranks everything (idf + length norm)
    assert got[0]["doc_id"] == 1
    # two common hits beat one; the exact tie breaks by doc_id
    ids = [r["doc_id"] for r in got]
    assert ids.index(2) < ids.index(3) < ids.index(4)
    assert by_id[3]["score_micro"] == by_id[4]["score_micro"]
    # tf saturation: 4x 'hash' scores above 1x but below 4x the single hit
    one_hash = by_id[2]["score_micro"] - by_id[3]["score_micro"]  # same dl
    assert one_hash > 0
    assert by_id[7]["score_micro"] < 4 * one_hash  # k1 saturates tf

    # mini-oracle: the SAME oracle SQL the driver runs, compared in order
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    orows = con.execute(entry.oracle_sql()["bm25_topk"]).fetchall()
    cols = [d[0] for d in con.description]
    assert [tuple(r[c] for c in cols) for r in got] == [
        tuple(r) for r in orows
    ]

    # the k boundary cuts deterministically: k=3 keeps the top 3 in order
    small = textstats.bm25_topk_df(
        spark.read.parquet(str(tmp_path / "documents.parquet")), k=3
    ).collect()
    assert [r["doc_id"] for r in small] == ids[:3]

    # empty corpus fails loud, never NaN-scores silently
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty corpus"):
        textstats.bm25_topk_df(empty)


def test_delete_from_sink_surgical_takedown(spark, tmp_path):
    """Row-level takedown on the compressed sink: named rows vanish, every
    surviving row is bit-identical, and ONLY chunks containing a doomed
    row are replaced — untouched chunk rows carry over with their chunk
    ids (and payload bytes) intact. Covers the list and DataFrame id
    forms, the no-match no-op, the fully-doomed chunk (no successor), and
    the stamped-sink guard (cluster_by required, stamps preserved)."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    src = str(tmp_path / "src")
    pages = synthesize_pages(spark, 600, seed=33).repartition(4).cache()
    lineage.write_encoded(encode_pages(pages, shuffle=False), src)
    src_ids = {
        r["chunk_id"]
        for r in lineage.read_encoded(spark, src)
        .select("chunk_id").distinct().collect()
    }
    victims = [r["url"] for r in pages.limit(3).collect()]

    dst = str(tmp_path / "dst")
    stats = lineage.delete_from_sink(
        spark, src, dst, victims, key_column="url"
    )
    assert stats["rows_deleted"] == 3
    assert stats["chunks_total"] == len(src_ids)
    assert 1 <= stats["chunks_affected"] <= 3
    # exact surviving content, bit-identical
    from hadoop_etl_udfs_spark.operators.encode import decode_chunks
    got = decode_chunks(lineage.read_encoded(spark, dst))
    want = pages.filter(~F.col("url").isin(victims))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # surgical: replaced ids gone, every other src chunk id carried as-is
    dst_ids = {
        r["chunk_id"]
        for r in lineage.read_encoded(spark, dst)
        .select("chunk_id").distinct().collect()
    }
    assert len(src_ids - dst_ids) == stats["chunks_affected"]
    assert len(dst_ids - src_ids) == stats["chunks_new"]
    carried = src_ids & dst_ids
    assert len(carried) == len(src_ids) - stats["chunks_affected"]
    # carried payloads are byte-identical (raw copy, no re-encode)
    s = lineage.read_encoded(spark, src).filter(
        F.col("chunk_id").isin(list(carried))
    ).select("chunk_id", "column", F.crc32(F.col("payload")).alias("c"))
    d = lineage.read_encoded(spark, dst).filter(
        F.col("chunk_id").isin(list(carried))
    ).select("chunk_id", "column", F.crc32(F.col("payload")).alias("c"))
    assert s.exceptAll(d).count() == 0 and d.exceptAll(s).count() == 0

    # DataFrame-id form produces the same result
    dst_df = str(tmp_path / "dst_df")
    ids_df = spark.createDataFrame([(u,) for u in victims], "url string")
    stats_df = lineage.delete_from_sink(
        spark, src, dst_df, ids_df, key_column="url"
    )
    assert stats_df["rows_deleted"] == 3
    got_df = decode_chunks(lineage.read_encoded(spark, dst_df))
    assert got_df.exceptAll(got).count() == 0
    assert got.exceptAll(got_df).count() == 0

    # no-match takedown: a faithful copy, zero chunks touched
    dst_noop = str(tmp_path / "dst_noop")
    stats0 = lineage.delete_from_sink(
        spark, src, dst_noop, ["no-such-url"], key_column="url"
    )
    assert stats0["rows_deleted"] == 0 and stats0["chunks_affected"] == 0
    assert stats0["chunks_new"] == 0
    noop_ids = {
        r["chunk_id"]
        for r in lineage.read_encoded(spark, dst_noop)
        .select("chunk_id").distinct().collect()
    }
    assert noop_ids == src_ids

    # fully-doomed chunk: kill EVERY row of one chunk -> no successor
    one_chunk = lineage.read_encoded(spark, src).select("chunk_id").first()[0]
    chunk_rows = decode_chunks(
        lineage.read_encoded(spark, src).filter(F.col("chunk_id") == one_chunk)
    )
    all_urls = [r["url"] for r in chunk_rows.select("url").collect()]
    dst_kill = str(tmp_path / "dst_kill")
    stats_k = lineage.delete_from_sink(
        spark, src, dst_kill, all_urls, key_column="url"
    )
    assert stats_k["rows_deleted"] >= len(all_urls)
    kill_ids = {
        r["chunk_id"]
        for r in lineage.read_encoded(spark, dst_kill)
        .select("chunk_id").distinct().collect()
    }
    assert one_chunk not in kill_ids

    # stamped sink: cluster_by is REQUIRED and stamps survive the rewrite
    src_c = str(tmp_path / "src_c")
    lineage.write_encoded(
        encode_pages(
            pages.repartitionByRange(4, F.col("warc_ts")),
            shuffle=False, cluster_by="warc_ts",
        ),
        src_c,
    )
    dst_c = str(tmp_path / "dst_c")
    with pytest.raises(ValueError, match="cluster stamps"):
        lineage.delete_from_sink(spark, src_c, dst_c, victims, key_column="url")
    stats_c = lineage.delete_from_sink(
        spark, src_c, dst_c, victims, key_column="url", cluster_by="warc_ts"
    )
    assert stats_c["rows_deleted"] == 3
    enc_c = lineage.read_encoded(spark, dst_c)
    assert enc_c.filter(F.col("cluster_lo").isNull()).count() == 0

    # successor rule: one victim in each of two chunks -> exactly two
    # successors, each its source chunk's rows minus the doomed one, in
    # the source order; the same takedown twice writes the same chunk ids
    def chunk_rows(sink, cid):
        return [tuple(r) for r in decode_chunks(
            lineage.read_encoded(spark, sink).filter(F.col("chunk_id") == cid)
        ).collect()]

    two = sorted(src_ids)[:2]
    src_rows = {c: chunk_rows(src, c) for c in two}
    pair = [src_rows[c][1][0] for c in two]  # url is the first column
    outs = [str(tmp_path / f"dst_pair{k}") for k in range(2)]
    stats_p = [
        lineage.delete_from_sink(spark, src, o, pair, key_column="url")
        for o in outs
    ]
    assert stats_p[0] == stats_p[1]
    assert stats_p[0]["chunks_affected"] == stats_p[0]["chunks_new"] == 2
    pair_ids = [
        {r["chunk_id"] for r in lineage.read_encoded(spark, o)
         .select("chunk_id").distinct().collect()}
        for o in outs
    ]
    assert pair_ids[0] == pair_ids[1]
    successors = pair_ids[0] - src_ids
    assert len(successors) == 2
    assert sorted(chunk_rows(outs[0], c) for c in successors) == sorted(
        [r for r in src_rows[c] if r[0] not in pair] for c in two
    )


def test_delete_from_sink_job_count(spark, tmp_path):
    """A takedown on a clean, bloomed, cluster-stamped sink runs at most six
    Spark jobs: the source's manifest probe, one key scan, and one write —
    no bloom probe, no candidate or hit-count collects, no probe of the
    written sink."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 800, seed=12).localCheckpoint()
    src = str(tmp_path / "src")
    lineage.write_encoded(encode_pages(
        pages.repartitionByRange(4, "warc_ts"), shuffle=False,
        cluster_by="warc_ts", bloom_by=["url"],
    ), src)
    victims = [r["url"] for r in pages.limit(2).collect()]
    jsc = spark.sparkContext._jsc.sc()

    def n_jobs() -> int:
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore().jobsList(None).size()

    before = n_jobs()
    stats = lineage.delete_from_sink(
        spark, src, str(tmp_path / "dst"), victims, key_column="url",
        cluster_by="warc_ts",
    )
    assert n_jobs() - before <= 6
    assert stats["rows_deleted"] == 2


def test_delete_from_sink_null_keys_and_join_fallback(spark, tmp_path):
    """Round-9 fixes, both on the takedown path:

    1. NULL-key rows sharing a chunk with a doomed row must SURVIVE a
       list-ids takedown (r8 ADVICE item 1: `~isin(ids)` is NULL for a
       NULL key under three-valued logic and the filter silently dropped
       them — data loss beyond the named ids, and a fork from the
       DataFrame-ids branch whose leftanti join keeps NULL keys).
    2. Affected-chunk filters fall back to a broadcast semi/anti JOIN
       past _ISIN_PUSHDOWN_MAX instead of a giant IN literal (r8 verdict
       item 5); results must be exact through that path too — for the
       rewrites' carried/victim selection AND, on a bloomed sink, for
       delete_from_sink's bloom-pruned key scan, decode_chunks_where_key_in
       and decode_chunks_where, which must each answer as under the cap.
    """
    from hadoop_etl_udfs_spark.operators.encode import (
        decode_chunks,
        encode_pages,
    )
    from hadoop_etl_udfs_spark.plans import lineage

    schema = "url string, text string"
    rows = [(f"u{i}", f"text {i}") for i in range(20)]
    rows += [(None, f"null-key {i}") for i in range(5)]
    df = spark.createDataFrame(rows, schema).repartition(2).cache()
    src = str(tmp_path / "src")
    lineage.write_encoded(encode_pages(df, shuffle=False), src)
    victims = ["u1", "u2", "u3"]
    want = df.filter(F.col("url").isNull() | ~F.col("url").isin(victims))

    dst = str(tmp_path / "dst")
    stats = lineage.delete_from_sink(
        spark, src, dst, victims, key_column="url", schema=schema
    )
    assert stats["rows_deleted"] == 3  # exactly the named ids, nothing more
    got = decode_chunks(lineage.read_encoded(spark, dst), schema=schema)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.filter(F.col("url").isNull()).count() == 5

    # DataFrame-ids branch agrees on the same nullable-key sink
    dst_df = str(tmp_path / "dst_df")
    ids_df = spark.createDataFrame([(u,) for u in victims], "url string")
    lineage.delete_from_sink(
        spark, src, dst_df, ids_df, key_column="url", schema=schema
    )
    got_df = decode_chunks(lineage.read_encoded(spark, dst_df), schema=schema)
    assert got_df.exceptAll(got).count() == 0
    assert got.exceptAll(got_df).count() == 0

    # a NULL among the list ids matches no row: `~isin` is NULL for every
    # key then, and must not purge the rest of the affected chunks
    dst_n = str(tmp_path / "dst_null_id")
    stats_n = lineage.delete_from_sink(
        spark, src, dst_n, victims + [None], key_column="url", schema=schema
    )
    assert stats_n["rows_deleted"] == 3
    got_n = decode_chunks(lineage.read_encoded(spark, dst_n), schema=schema)
    assert got_n.exceptAll(want).count() == 0
    assert want.exceptAll(got_n).count() == 0

    # a bloomed sink, answered under the cap first
    bsrc = str(tmp_path / "bloom_src")
    bdf = spark.createDataFrame(
        [(f"b{i:02d}", f"bloom {i}") for i in range(40)], schema
    ).repartition(4)
    lineage.write_encoded(encode_pages(bdf, shuffle=False, bloom_by=["url"]), bsrc)
    bvictims = [f"b{i:02d}" for i in range(10)]

    def sorted_rows(df):
        return sorted(map(tuple, df.collect()))

    def bloom_answers(tag):
        bdst = str(tmp_path / f"bloom_dst_{tag}")
        st = lineage.delete_from_sink(
            spark, bsrc, bdst, bvictims, key_column="url", schema=schema
        )
        lookup = lineage.decode_chunks_where_key_in(
            spark, bsrc, "url", bvictims, schema=schema
        )
        zone = lineage.decode_chunks_where(
            spark, bsrc, "url", "b00", "b09", schema=schema
        )
        return (
            st,
            sorted_rows(decode_chunks(lineage.read_encoded(spark, bdst), schema=schema)),
            sorted_rows(lookup),
            sorted_rows(zone),
            "Join" in plan_of(lookup) and "Join" in plan_of(zone),
        )

    under = bloom_answers("under")
    assert under[0]["rows_deleted"] == 10
    assert under[0]["chunks_key_scanned"] > 1  # so a cap of 1 is exceeded
    assert len(under[2]) == 10 and not under[4]  # IN literals under the cap

    # over-cap: force the join fallback for carried/victims selection
    import hadoop_etl_udfs_spark.plans.lineage as lin_mod

    orig = lin_mod._ISIN_PUSHDOWN_MAX
    lin_mod._ISIN_PUSHDOWN_MAX = 1
    try:
        dst_j = str(tmp_path / "dst_join")
        stats_j = lineage.delete_from_sink(
            spark, src, dst_j, victims, key_column="url", schema=schema
        )
        assert stats_j["rows_deleted"] == 3
        got_j = decode_chunks(
            lineage.read_encoded(spark, dst_j), schema=schema
        )
        assert got_j.exceptAll(want).count() == 0
        assert want.exceptAll(got_j).count() == 0

        # compact_sink's victim/carried selection through the same fallback
        frag_src = str(tmp_path / "frag_src")
        small = spark.createDataFrame(
            [(f"f{i}", f"frag {i}") for i in range(12)], schema
        ).repartition(6)  # 6 fragment chunks of ~2 rows
        lineage.write_encoded(encode_pages(small, shuffle=False), frag_src)
        frag_dst = str(tmp_path / "frag_dst")
        cstats = lineage.compact_sink(
            spark, frag_src, frag_dst, min_rows=10, schema=schema
        )
        assert cstats["chunks_fragment"] >= 2
        got_c = decode_chunks(
            lineage.read_encoded(spark, frag_dst), schema=schema
        )
        assert got_c.exceptAll(small).count() == 0
        assert small.exceptAll(got_c).count() == 0

        # bloomed sink past the cap: key scan, lookup and zone map joins
        over = bloom_answers("over")
        assert over[4]  # the joins really ran
        assert over[:4] == under[:4]
    finally:
        lin_mod._ISIN_PUSHDOWN_MAX = orig


def test_rewrites_on_duplicated_sink(spark, tmp_path):
    """A sink holding every chunk twice — a resume over drifted input
    appends the same encoded rows again. delete_from_sink and compact_sink
    must write exactly the expected rows with no doubled chunk rows, and
    rows_deleted / rows_compacted count each row once even though every
    doomed key sits in a duplicated chunk."""
    from hadoop_etl_udfs_spark.operators.encode import (
        decode_chunks,
        encode_pages,
    )
    from hadoop_etl_udfs_spark.plans import lineage

    schema = "url string, text string"
    df = spark.createDataFrame(
        [(f"u{i:02d}", f"text {i}") for i in range(30)], schema
    ).repartition(3).cache()
    src = str(tmp_path / "src")
    enc = encode_pages(df, shuffle=False, bloom_by=["url"]).localCheckpoint()
    lineage.write_encoded(enc, src)
    lineage.write_encoded(enc, src, mode="append")
    assert lineage.sink_has_duplicates(spark, src)
    n_chunks = enc.select("chunk_id").distinct().count()

    def check(dst, want):
        assert not lineage.sink_has_duplicates(spark, dst)
        got = decode_chunks(lineage.read_encoded(spark, dst), schema=schema)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    victims = ["u01", "u02", "u03", "u17"]
    dst = str(tmp_path / "dst")
    stats = lineage.delete_from_sink(
        spark, src, dst, victims, key_column="url", schema=schema
    )
    assert stats["rows_deleted"] == 4
    assert stats["chunks_total"] == n_chunks
    assert 1 <= stats["chunks_affected"] <= stats["chunks_key_scanned"]
    check(dst, df.filter(~F.col("url").isin(victims)))

    # DataFrame ids: unpruned key scan over the same duplicated sink
    dst_df = str(tmp_path / "dst_df")
    ids_df = spark.createDataFrame([(u,) for u in victims], "url string")
    stats_df = lineage.delete_from_sink(
        spark, src, dst_df, ids_df, key_column="url", schema=schema
    )
    assert stats_df["rows_deleted"] == 4
    assert stats_df["chunks_key_scanned"] == n_chunks
    check(dst_df, df.filter(~F.col("url").isin(victims)))

    cdst = str(tmp_path / "cdst")
    cstats = lineage.compact_sink(spark, src, cdst, min_rows=10**6, schema=schema)
    assert cstats == {
        "chunks_total": n_chunks, "chunks_fragment": n_chunks,
        "chunks_new": 1, "rows_compacted": 30,
    }
    check(cdst, df)
    df.unpersist()


def test_compact_sink_merges_fragments_surgically(spark, tmp_path):
    """Small-chunk compaction: fragment chunks (small-append and
    ingest-tick leftovers) merge to full-size chunks chosen by MANIFEST metadata only;
    full-size chunks carry over raw (byte-identical payloads); content is
    exact; blooms re-stamp; stamped sinks require cluster_by and stay
    range-stamped; a lone fragment and a fragment-free sink are copies."""
    from hadoop_etl_udfs_spark.operators.encode import decode_chunks, encode_pages
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages

    src = str(tmp_path / "src")
    pages = synthesize_pages(spark, 2400, seed=21).cache()
    pages.count()
    # 1 full-size chunk (1200 rows) + 6 fragment appends (~200 rows each)
    big = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).repartition(1)
    lineage.write_encoded(
        encode_pages(big, shuffle=False, bloom_by=["url"]), src
    )
    small = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    for i in range(6):
        b = small.filter(F.pmod(F.xxhash64("url", "html"), F.lit(6)) == i)
        lineage.write_encoded(
            encode_pages(b.repartition(1), shuffle=False, bloom_by=["url"]),
            src, mode="append",
        )
    enc = lineage.read_encoded(spark, src)
    src_ids = {r["chunk_id"] for r in enc.select("chunk_id").distinct().collect()}
    big_ids = {
        r["chunk_id"]
        for r in enc.filter(F.col("n_rows") >= 600)
        .select("chunk_id").distinct().collect()
    }
    assert len(big_ids) == 1 and len(src_ids) == 7

    dst = str(tmp_path / "dst")
    stats = lineage.compact_sink(spark, src, dst, min_rows=600)
    assert stats == {
        "chunks_total": 7, "chunks_fragment": 6, "chunks_new": 1,
        "rows_compacted": small.count(),
    }
    dst_enc = lineage.read_encoded(spark, dst)
    got = decode_chunks(dst_enc)
    assert got.exceptAll(pages).count() == 0
    assert pages.exceptAll(got).count() == 0
    # the big chunk carried raw: same id, byte-identical payloads
    dst_ids = {r["chunk_id"] for r in dst_enc.select("chunk_id").distinct().collect()}
    assert big_ids < dst_ids and len(dst_ids) == 2
    s = lineage.read_encoded(spark, src).filter(
        F.col("chunk_id").isin(list(big_ids))
    ).select("chunk_id", "column", F.crc32("payload").alias("c"))
    d = dst_enc.filter(F.col("chunk_id").isin(list(big_ids))).select(
        "chunk_id", "column", F.crc32("payload").alias("c")
    )
    assert s.exceptAll(d).count() == 0 and d.exceptAll(s).count() == 0
    # merged chunk is full-size and carries a fresh bloom
    merged = dst_enc.filter(~F.col("chunk_id").isin(list(big_ids)))
    assert merged.select("n_rows").first()[0] >= 600
    assert lineage.sink_bloom_columns(dst_enc) == ["url"]

    # fragment-free sink: pure copy, nothing rewritten
    dst2 = str(tmp_path / "dst2")
    stats2 = lineage.compact_sink(spark, dst, dst2, min_rows=100)
    assert stats2["chunks_fragment"] == 0 and stats2["chunks_new"] == 0
    assert {
        r["chunk_id"]
        for r in lineage.read_encoded(spark, dst2)
        .select("chunk_id").distinct().collect()
    } == dst_ids

    # lone fragment: carried, not churned
    dst3 = str(tmp_path / "dst3")
    stats3 = lineage.compact_sink(spark, dst, dst3, min_rows=600 + 1)
    # exactly one of the two chunks is under the bar (the carried big one
    # holds 1200, the merged one >= 600): lone fragment -> no rewrite
    if stats3["chunks_fragment"] == 1:
        assert stats3["chunks_new"] == 0 and stats3["rows_compacted"] == 0

    # stamped sink: cluster_by required, merged chunks re-stamped + ranged
    src_c = str(tmp_path / "src_c")
    for i in range(4):
        b = pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == i)
        lineage.write_encoded(
            encode_pages(
                b.repartition(1), shuffle=False, cluster_by="warc_ts"
            ),
            src_c, mode="append",
        )
    dst_c = str(tmp_path / "dst_c")
    with pytest.raises(ValueError, match="cluster stamps"):
        lineage.compact_sink(spark, src_c, dst_c, min_rows=5000)
    stats_c = lineage.compact_sink(
        spark, src_c, dst_c, min_rows=5000, cluster_by="warc_ts"
    )
    assert stats_c["chunks_fragment"] == 4
    enc_c = lineage.read_encoded(spark, dst_c)
    assert enc_c.filter(F.col("cluster_lo").isNull()).count() == 0
    got_c = decode_chunks(enc_c)
    assert got_c.exceptAll(pages).count() == 0
    assert pages.exceptAll(got_c).count() == 0
    pages.unpersist()


def test_sink_stats_scan_free_aggregates(spark, tmp_path):
    """Manifest-only aggregate pushdown: values match the decoded truth,
    the plan never reads the payload column, and stats_complete
    distinguishes exact min/max (int zone maps; all-null chunks harmless)
    from value-bearing chunks that wrote no stats (oversized strings)."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage

    src = str(tmp_path / "sink")
    docs = spark.createDataFrame(
        [
            (1, "x" * 300, 7),     # text oversized -> no string zone map
            (2, "y" * 300, None),  # null in the int column
            (5, "z" * 300, -3),
        ],
        "doc_id long, text string, score long",
    ).repartition(1)
    lineage.write_encoded(encode_pages(docs, shuffle=False), src)
    st = lineage.sink_stats(spark, src).cache()

    plan = st._jdf.queryExecution().executedPlan().toString()
    read = plan.split("ReadSchema")[-1][:400]
    assert "payload" not in read  # scan-free: manifest columns only

    rows = {r["column"]: r for r in st.collect()}
    assert rows["doc_id"]["n_rows"] == 3
    assert rows["doc_id"]["min_long"] == 1
    assert rows["doc_id"]["max_long"] == 5
    assert rows["doc_id"]["stats_complete"]
    assert rows["score"]["min_long"] == -3
    assert rows["score"]["max_long"] == 7
    assert rows["text"]["data_bytes"] == 900
    assert rows["text"]["min_long"] is None  # string domain: no long stats
    assert not rows["text"]["stats_complete"]  # oversized, values present
    st.unpersist()


def test_sink_stats_dedupes_and_guards_string_domains(spark, tmp_path):
    """The sums dedupe duplicate (chunk_id, column) rows (resume over
    drifted input), and numeric-LOOKING string columns never leak their
    lexicographic zone-map bounds into min_long/max_long."""
    from hadoop_etl_udfs_spark.operators.encode import encode_pages
    from hadoop_etl_udfs_spark.plans import lineage

    src = str(tmp_path / "sink")
    docs = spark.createDataFrame(
        [(1, "9"), (2, "10"), (3, "7")], "doc_id long, numstr string"
    ).repartition(1)
    enc = encode_pages(docs, shuffle=False).localCheckpoint()
    lineage.write_encoded(enc, src)
    lineage.write_encoded(enc, src, mode="append")  # duplicated sink
    assert lineage.sink_has_duplicates(spark, src)

    rows = {r["column"]: r for r in lineage.sink_stats(spark, src).collect()}
    assert rows["doc_id"]["n_rows"] == 3  # deduped, not 6
    assert rows["doc_id"]["data_bytes"] == 24
    assert rows["doc_id"]["min_str"] is None  # numeric domain: no str stats
    # lexicographic bounds ('10' < '9') stay in the string domain only
    assert rows["numstr"]["min_long"] is None
    assert rows["numstr"]["max_long"] is None
    assert rows["numstr"]["min_str"] == "10"
    assert rows["numstr"]["max_str"] == "9"
