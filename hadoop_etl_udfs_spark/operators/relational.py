"""Reference-parity relational operators (SURVEY.md §2.2/§2.6) expressed
Spark-first over the driver's TPC-H-ish tables.

Each function takes (spark, sf_dir) and returns a DataFrame; the matching
DuckDB oracle SQL lives in __spark_entry__.py. Column aliases match the
oracle exactly (the driver hashes values under sorted column names).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary — the §2.4 metrics-rollup
    pattern (hash aggregate with map-side partial combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def projection_reorder_duplicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: OUTPUT_COLUMNS-style projection with reorder and duplication
    (reference test HdfsSerDeImportServiceTest.java:54-68 reorders and
    repeats 'salary')."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_quantity").alias("qty"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_returnflag").alias("rflag"),
        F.col("l_quantity").alias("qty_again"),
    ).orderBy("okey", "qty", "rflag")


def partition_filter_or_of_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: PARTITIONS='p1=a/p2=b, p1=c/p2=d' = OR of AND-equality conjunctions
    (MultiPartitionFilter.java:31-51) as a Catalyst filter (partition-prunable
    when the columns are partition columns)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            ((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F"))
            | ((F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "F"))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


def pushdown_eq_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: the only predicates the reference can push (= and IN const-list,
    HiveProperties.java:43-45); Catalyst pushes them to the parquet scan."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.filter(
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("c_nationkey").isin(1, 2, 3, 7)
        )
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


def json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/F8: JsonPath-subset extraction (JsonPathParser.java:10-30) over the
    events.props JSON strings; missing path -> null (P8 null normalization,
    reference emits NULL at HdfsSerDeImportService.java:190-194)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
    ).orderBy("event_id")


def partition_value_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: parse /name=value/ path segments into typed columns
    (HdfsSerDeImportService.java:498-566). The hive-style path is built from
    the row, then parsed back with regex + cast — both directions visible."""
    ev = _t(spark, sf_dir, "events")
    path = F.concat(
        F.lit("/warehouse/events/dt="),
        F.date_format("ts", "yyyy-MM-dd"),
        F.lit("/etype="),
        F.col("event_type"),
        F.lit("/part-0.parquet"),
    )
    with_path = ev.select("event_id", path.alias("path"))
    return with_path.select(
        "event_id",
        F.regexp_extract("path", r"dt=([^/]+)", 1).cast("date").alias("dt"),
        F.regexp_extract("path", r"etype=([^/]+)", 1).alias("etype"),
    ).orderBy("event_id")


def hex_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: binary -> hex string (HdfsSerDeImportService.java:330-331 — the
    reference *degrades* binary to hex; we expose it as an explicit op and
    keep real bytes elsewhere)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.hex(F.substring("text", 1, 8).cast("binary")).alias("hex8")
    ).orderBy("doc_id")


def float_downcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: double -> float downcast (Tuple.java:100-106)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").alias("lineno"),
        F.col("l_quantity").cast("float").alias("qty_f"),
    ).orderBy("l_orderkey", "lineno")


def char_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: char(n) space-padding semantics (reference round-trip expects
    'aaaaaaaaaa  ' — HdfsSerDeExportServiceTest.java:264-273)."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey", F.rpad("n_name", 20, " ").alias("n_name_char20")
    ).orderBy("n_nationkey")


def metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: group-by metrics aggregate (the distribution GROUP BY of
    ImportHCatTable.java:104-109 reinterpreted as a real aggregate)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def window_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (absent from the reference — SqlGenerator.java:190-197
    throws on ORDER BY/LIMIT; built-in in Spark): per-user event ordering and
    running value."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.round(
            F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 4
        ).alias("running_value"),
    ).orderBy("event_id")


def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/limit/top-k (absent from the reference, delegated to the host DB):
    top-3 orders by price per customer segment via window rank."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rk")
    )


def broadcast_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join (absent from reference — delegated to host, HiveProperties.java:27-46):
    fact-dim enrichment with an explicit broadcast of the small side."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference — delegated to the host DB;
    SqlGenerator.java:145-255 throws): nations present in customers but not
    suppliers, plus intersection counts."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    only_c = c.distinct().exceptAll(s.distinct()).withColumn("side", F.lit("cust_only"))
    both = c.distinct().intersect(s.distinct()).withColumn("side", F.lit("both"))
    return only_c.union(both).orderBy("side", "nk")


def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (grouping-set family, absent from the reference)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def global_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (the reference explicitly cannot push these —
    SqlGenerator.java:190-197 throws on SqlLimit/SqlOrderBy; Spark executes
    them as TakeOrderedAndProject, no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS as left_semi / left_anti joins."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("with_orders").alias("side"), "c_custkey"
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("no_orders").alias("side"), "c_custkey"
    )
    return with_orders.union(without).orderBy("side", "c_custkey")


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string function battery (SURVEY §2.6 — the reference has
    conversions only; these are the library a query engine needs)."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.lower("n_name").alias("lower_name"),
        F.upper(F.substring("n_name", 1, 3)).alias("prefix3"),
        F.length("n_name").alias("name_len"),
        F.concat_ws("-", "n_name", F.col("n_nationkey").cast("string")).alias("tagged"),
        F.reverse(F.col("n_name")).alias("reversed"),
        F.levenshtein(F.col("n_name"), F.lit("FRANCE")).alias("lev_to_france"),
        F.translate("n_name", "AEIOU", "aeiou").alias("folded"),
    ).orderBy("n_nationkey")


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery over event timestamps (UTC session)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("month", "ts").alias("month_start"),
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("dom"),
        (F.dayofweek("ts") - 1).alias("dow_sun0"),
        F.to_date("ts").alias("d"),
        F.date_add(F.to_date("ts"), 30).alias("d_plus30"),
    ).orderBy("event_id")


def to_json_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: complex value -> JSON text (the reference renders array/map/struct
    leaves to JSON strings, HdfsSerDeImportService.java:391-496)."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.to_json(
            F.struct(F.col("n_nationkey").alias("key"), F.col("n_name").alias("name"))
        ).alias("as_json"),
    ).orderBy("n_nationkey")


def null_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: missing fields -> NULL -> normalized defaults (the reference emits
    NULL for absent struct fields, HdfsSerDeImportService.java:190-194, and
    nullifies stale slots per row, :176-180)."""
    ev = _t(spark, sf_dir, "events")
    missing = F.get_json_object("props", "$.absent_key")
    return ev.select(
        "event_id",
        F.coalesce(missing, F.lit("<missing>")).alias("filled"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
        missing.isNull().cast("int").alias("was_null"),
    ).orderBy("event_id")


def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price (broadcast
    crossJoin of the 1-row aggregate — no driver-side collect)."""
    o = _t(spark, sf_dir, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_above_avg"))
        .orderBy("o_orderstatus")
    )


def url_decode_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: URL-decode of percent-encoded path segments
    (HdfsSerDeImportService.java:167, PartitionPathFilter.java:42-47).
    Rows-only: DuckDB 1.0 has no url_decode."""
    ev = _t(spark, sf_dir, "events")
    encoded = F.concat(
        F.lit("/data/type%3D"), F.col("event_type"), F.lit("/v%201")
    )
    return ev.select(
        "event_id",
        F.url_decode(encoded).alias("decoded_path"),
    ).orderBy("event_id").limit(100)


def decimal_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-adjacent: exact decimal arithmetic (the reference's most-tested
    type — 36-digit decimals with sign-extension padding,
    HdfsSerDeExportServiceTest.java:277-391). Spark decimal sums are exact,
    unlike the double sums everywhere else."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(p).alias("sum_price_exact"),
            F.min(p).alias("min_price"),
            F.max(p).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


def complex_types_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native complex-type columns (array / map / struct / array-of-array)
    with indexed-path extraction — the reference's most-tested read feature
    (ObjectInspector tree walk, HdfsSerDeImportService.java:205-313; paths
    ``f1[0]``, ``f2.K1``, ``f5[1][0]``, ``f6.g1.h1`` exercised at
    HdfsSerDeImportServiceTest.java:114-127). The complex columns are built
    from driver-table scalars so the DuckDB oracle can build identical ones."""
    ev = _t(spark, sf_dir, "events")
    built = ev.select(
        "event_id",
        F.array(F.round("value", 2), F.round(F.col("value") * 2, 2)).alias("f1"),
        F.create_map(
            F.lit("K1"), F.col("event_type"), F.lit("K2"), F.upper("event_type")
        ).alias("f2"),
        F.array(
            F.array(F.col("user_id")),
            F.array(F.col("user_id") + 1, F.col("user_id") + 2),
        ).alias("f5"),
        F.struct(
            F.struct(
                F.col("user_id").alias("h1"), F.col("event_type").alias("k1")
            ).alias("g1")
        ).alias("f6"),
    )
    return built.select(
        "event_id",
        F.col("f1").getItem(0).alias("f1_0"),
        F.col("f2").getItem("K1").alias("f2_k1"),
        F.col("f5").getItem(1).getItem(0).alias("f5_1_0"),
        F.col("f6").getField("g1").getField("h1").alias("f6_g1_h1"),
    ).orderBy("event_id")


def complex_to_json_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested complex -> JSON render: arrays-of-arrays, maps, nested structs
    (the reference renders these through HdfsSerDeImportService.java:99-111's
    JSON path; P4/F7). Integer-only leaves: Spark (Jackson) and DuckDB agree
    on integer/string JSON rendering byte-for-byte."""
    n = _t(spark, sf_dir, "nation")
    payload = F.struct(
        F.col("n_nationkey").alias("key"),
        F.array(F.col("n_name"), F.upper("n_name")).alias("names"),
        F.array(
            F.array(F.col("n_nationkey")),
            F.array(F.col("n_regionkey"), F.lit(7).cast("long")),
        ).alias("aa"),
        F.create_map(F.lit("region"), F.col("n_regionkey")).alias("m"),
        F.struct(F.struct(F.col("n_regionkey").alias("r")).alias("inner")).alias(
            "nested"
        ),
    )
    return n.select(
        "n_nationkey", F.to_json(payload).alias("as_json")
    ).orderBy("n_nationkey")


def union_type_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive uniontype handling mapped to struct-of-options + tag (SURVEY §2;
    tag unwrap at HdfsSerDeImportService.java:243-248,453-459): rows carry a
    tag plus one populated option field; extraction coalesces by tag."""
    ev = _t(spark, sf_dir, "events")
    u = F.when(
        F.pmod("event_id", F.lit(2)) == 0,
        F.struct(
            F.lit(0).alias("tag"),
            F.col("user_id").alias("v0"),
            F.lit(None).cast("string").alias("v1"),
        ),
    ).otherwise(
        F.struct(
            F.lit(1).alias("tag"),
            F.lit(None).cast("long").alias("v0"),
            F.col("event_type").alias("v1"),
        )
    )
    t = ev.select("event_id", u.alias("u"))
    return t.select(
        "event_id",
        F.col("u.tag").alias("tag"),
        F.coalesce(F.col("u.v1"), F.col("u.v0").cast("string")).alias("unwrapped"),
    ).orderBy("event_id")


def json_indexed_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 completion: JsonPath ARRAY-INDEX extraction over JSON strings —
    the reference's ``f5[1][0]`` path family (HdfsSerDeImportServiceTest.java:
    114-127; JsonPathParser walk) applied to serialized JSON, complementing
    complex_types_extract's native-column version. Also extracts a sub-array
    as its JSON rendering (the reference's mid-path complex render)."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    doc = F.concat(
        F.lit('{"f5": [['), uid,
        F.lit("], ["), (F.col("user_id") + 1).cast("string"),
        F.lit(", "), (F.col("user_id") + 2).cast("string"),
        F.lit(']], "tags": ["a", "'), F.col("event_type"), F.lit('"]}'),
    )
    return ev.select(
        "event_id",
        F.get_json_object(doc, "$.f5[1][0]").cast("long").alias("f5_1_0"),
        F.get_json_object(doc, "$.tags[1]").alias("tag_1"),
        F.get_json_object(doc, "$.f5[0]").alias("f5_0_json"),
    ).orderBy("event_id")


def json_quoted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 completion: QUOTED-FIELD JsonPath segments — keys containing dots
    and spaces, addressed as ``"a.b"`` / ``"with space"."inner.key"`` — the
    reference grammar's first alternative (JsonPathParser.java:17-28, spec
    test parsing ``f1.f2[0]."f3.x".f4[1][2]`` at jsonpath/JsonPathTest.java:23),
    which round 2 left uncovered. Applied through the shared parser to BOTH
    evaluation sites: a JSON-string column (get_json_object compilation) and
    a native struct column (getItem walk). Missing quoted paths -> NULL."""
    from ..functions.jsonpath import json_path_col, json_path_str

    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id")
    doc = F.concat(
        F.lit('{"a.b": '), uid.cast("string"),
        F.lit(', "with space": {"inner.key": "'), F.col("event_type"),
        F.lit('"}, "arr": ['), (uid + 1).cast("string"),
        F.lit(", "), (uid + 2).cast("string"), F.lit("]}"),
    )
    native = F.struct(
        uid.alias("a.b"),
        F.struct(F.col("event_type").alias("inner.key")).alias("with space"),
    )
    return ev.select(
        "event_id",
        json_path_str(doc, '"a.b"').cast("long").alias("q_ab"),
        json_path_str(doc, '"with space"."inner.key"').alias("q_space"),
        json_path_str(doc, "arr[1]").cast("long").alias("arr_1"),
        json_path_str(doc, '"no.such"').alias("q_missing"),
        json_path_col(native, '"a.b"').alias("n_ab"),
        json_path_col(native, '"with space"."inner.key"').alias("n_space"),
    ).orderBy("event_id")


def gap_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-min inactivity splits a session):
    lag + conditional flag + running sum, fully SQL-expressible and
    oracle-checked. At scale this is one shuffle on
    user_id; the two window functions share the same partitioning."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # interval comparison, not epoch casts: the events ts is TIMESTAMP_NTZ,
    # which ANSI mode refuses to cast to a number
    new_sess = F.when(
        prev_ts.isNull()
        | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 1800 SECONDS")),
        1,
    ).otherwise(0)
    sess = ev.withColumn("_new", new_sess).withColumn(
        "session_no", F.sum("_new").over(w)
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_no")
    )


def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` =
    DuckDB `quantile_cont`, both linear interpolation). The exact form is
    the oracle-checkable baseline; at 100 TB swap in approx_percentile
    (t-digest, map-side combinable) where exactness isn't required."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
            F.round(F.avg("value"), 4).alias("mean_value"),
        )
        .orderBy("event_type")
    )
