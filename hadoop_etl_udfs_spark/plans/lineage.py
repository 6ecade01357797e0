"""Checkpointed per-chunk lineage + resume-from-failure.

The reference has task-level HA only (namenode failover HdfsService.java:62-87,
mid-read retry HdfsSerDeImportService.java:141-149); a failed IMPORT restarts
from zero. This engine records one manifest row per column-chunk
(chunk_id, column, codec, bytes in/out, CRC) as it writes, and a restarted
job anti-joins the manifest to skip completed chunks — possible because chunk
ids are content hashes, not UUIDs (contrast ExportIntoHiveTable.java:148-156).

Resume contract: a restart must re-run the SAME job (same input, same
partitioning config, same Arrow batch size) — then chunking is deterministic
and completed chunks skip exactly. Resuming with a *different* input produces
different chunk boundaries: nothing is lost, but overlapping rows re-encode
into new chunks (the sink then holds both; dedupe by chunk_id when reading).

Layout: ``out_dir/chunks/`` holds the encoded column-chunk rows (parquet,
compression=none — payloads are already entropy-packed). The manifest is
that table read without its payload column, so reading lineage never
touches payload bytes (parquet column pruning).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..worker import drop_zip_finders

CHUNKS_SUBDIR = "chunks"


def chunks_path(out_dir: str) -> str:
    return os.path.join(out_dir, CHUNKS_SUBDIR)


def write_encoded(
    enc: DataFrame, out_dir: str, mode: str = "append",
    partition_by_column: bool = False,
) -> None:
    """Sink encoded column-chunks. Parquet with compression=none: payloads
    are already codec-packed, and lineage columns are tiny.

    ``partition_by_column=True`` lays the sink out as ``column=<name>/``
    directories: decoding a column SUBSET then prunes whole directories at
    planning time (the columnar engine's projection pushdown applied to its
    own sink — at 100 TB a 2-of-5-column read scans 2/5 of the bytes).
    Trade-off: chunk rows no longer colocate per chunk inside one file, so
    subset decode uses the grouped path (decode_chunks), not the colocated
    one."""
    w = enc.write.mode(mode).option("compression", "none")
    if partition_by_column:
        w = w.partitionBy("column")
    w.parquet(chunks_path(out_dir))


def read_encoded(spark: SparkSession, out_dir: str) -> DataFrame:
    """The one batch reader of a chunk sink. It reads with the declared
    sink schema (operators.encode.ENCODED_SCHEMA), so it runs no inference
    job, and columns an older sink lacks (stats, data_bytes, cluster
    stamps) read as NULL. A missing sink raises here (PATH_NOT_FOUND).
    A ``column`` filter on the result prunes directories on a
    column-partitioned sink (PartitionFilters; ``column`` comes last
    there) and row groups on a flat one."""
    from ..operators.encode import ENCODED_SCHEMA

    return spark.read.schema(ENCODED_SCHEMA).parquet(chunks_path(out_dir))


def read_encoded_colocated(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the sink without splitting any file, so each chunk's column rows
    stay inside one partition — enables the shuffle-free
    operators.encode.decode_chunks_colocated fast path.

    ``spark.sql.files.maxPartitionBytes`` is a SESSION conf (a reader option
    of that name is silently ignored), and file-split planning happens at
    execution time — so this raises it for the session and leaves it raised.
    decode_chunks_colocated still fails loudly if a chunk arrives torn."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 << 30))
    return read_encoded(spark, out_dir)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage view: payload column pruned at the parquet scan (check
    ReadSchema in .explain — payload must be absent)."""
    return read_encoded(spark, out_dir).select(
        "chunk_id", "column", "n_rows", "codec", "bytes_in", "bytes_out", "crc32"
    )


_ISIN_PUSHDOWN_MAX = 100_000  # keep-set size above which IN becomes a join


def _chunk_id_filter(
    enc: DataFrame, chunk_ids, keep: bool = True
) -> tuple[DataFrame, int]:
    """Rows of ``enc`` whose chunk_id is in (``keep=True``) / not in
    (``keep=False``) an id set, and the set's size — the ONE place the
    IN-literal-or-join decision is made, for every pruned read and rewrite.

    ``chunk_ids`` is a driver-side iterable or a lazy ``chunk_id``
    DataFrame (a zone-map or bloom keep set), which is collected once, as
    Arrow (8 bytes per id, one job). Up to ``_ISIN_PUSHDOWN_MAX`` ids the
    filter is an IN literal: pushed to the parquet scan, no join stage.
    Past it a giant IN expression would choke the planner (a mass
    takedown, a sink of hundreds of thousands of fragments), so it becomes
    a broadcast semi/anti join on the collected ids — the keep set's
    JSON-parsing probe never re-runs per consumer. chunk_id is never NULL,
    so the anti join and ``~isin`` agree."""
    import pyarrow as pa

    if isinstance(chunk_ids, DataFrame):
        ids = chunk_ids.select("chunk_id").toArrow()
    else:
        ids = pa.table({"chunk_id": pa.array(list(chunk_ids), pa.int64())})
    if ids.num_rows <= _ISIN_PUSHDOWN_MAX:
        pred = F.col("chunk_id").isin(ids.column(0).to_pylist())
        return enc.filter(pred if keep else ~pred), ids.num_rows
    how = "leftsemi" if keep else "leftanti"
    id_df = enc.sparkSession.createDataFrame(ids)
    return enc.join(F.broadcast(id_df), "chunk_id", how), ids.num_rows


def decode_chunks_where(
    spark: SparkSession,
    out_dir: str,
    column: str,
    lo,
    hi,
    schema: str | None = None,
    global_dicts: dict | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Zone-map pruned decode: chunks whose per-chunk [min, max] for
    ``column`` cannot intersect [lo, hi] are skipped BEFORE any payload is
    touched (the stats live in the manifest rows; payload bytes of pruned
    chunks are never read thanks to parquet column+predicate pruning).

    Returns ALL rows of surviving chunks — a zone map prunes chunks, not
    rows; apply the row-level filter on the result. What is saved: decode
    CPU, the decode shuffle, and (when the keep set is small enough to push
    as an IN filter) parquet row-group reads; payload bytes of pruned chunks
    inside surviving row groups are still scanned — combine with
    ``partition_by_column`` or a stat-clustered sink layout for hard scan
    pruning. ``lo``/``hi`` use the stats domain: ints for int columns, epoch
    in the column's unit (µs here) for timestamps, raw strings for string
    columns — a bounds type that disagrees with the column's stats type
    raises instead of comparing lexicographically. Chunks with no stats
    (nulls only, oversized strings, binary) are always kept — pruning is
    safe, not clever — so are the chunks of a sink written before the
    stats column existed.

    ``columns`` combines the zone map with the sink's projection pushdown:
    only the requested columns' chunk rows are scanned and decoded (whole
    directories pruned on a ``partition_by_column`` sink — the two pruning
    mechanisms compose: PartitionFilters drop column dirs at planning time,
    the zone-map IN filter drops chunks of the surviving dirs). The stats
    probe always reads the PRUNE column's rows from the payload-pruned
    manifest scan, so the prune column need not be in the output subset."""
    import json as _json

    from ..operators.encode import decode_chunks, subset_schema

    enc = read_encoded(spark, out_dir)
    st = enc.filter(F.col("column") == column).select("chunk_id", "stats")
    mn = F.get_json_object("stats", "$.min")
    mx = F.get_json_object("stats", "$.max")
    # one job: does the column exist, and one zone map to type-check the
    # bounds against (a bloom-only stats JSON carries no min)
    probe = st.agg(
        F.count("*").alias("n"),
        F.first(F.when(mn.isNotNull(), F.col("stats")), ignorenulls=True)
        .alias("stats"),
    ).first()
    if probe["n"] == 0:
        raise ValueError(
            f"column {column!r} has no chunk rows in {out_dir} — "
            "misspelled column names must fail loud, not decode nothing"
        )
    if probe["stats"] is not None:
        probe_min = _json.loads(probe["stats"])["min"]
        for bound, name in ((lo, "lo"), (hi, "hi")):
            if isinstance(probe_min, str) != isinstance(bound, str):
                raise TypeError(
                    f"bounds type {type(bound).__name__} ({name}) does "
                    f"not match the stats domain of column {column!r} "
                    f"({type(probe_min).__name__}) — comparing "
                    "them would be lexicographic and silently wrong"
                )
    if not isinstance(lo, str):
        mn, mx = mn.cast("long"), mx.cast("long")
    disjoint = (mx < F.lit(lo)) | (mn > F.lit(hi))
    keep = st.filter(F.col("stats").isNull() | ~disjoint).select("chunk_id")
    data = enc.filter(F.col("column").isin(columns)) if columns else enc
    pruned, _ = _chunk_id_filter(data, keep)
    out_schema = subset_schema(columns, schema) if columns else schema
    return decode_chunks(pruned, out_schema, global_dicts)


def cluster_ranges_keep_predicate(ranges: list[tuple[int, int]]):
    """The stamp-overlap keep predicate for an OR-of-ranges pruned read:
    a chunk is kept iff its [cluster_lo, cluster_hi] stamp overlaps ANY
    range; NULL-stamped chunks are always kept (pre-cluster sinks, all-null
    cluster column). ONE definition — decode_chunks_where_clustered filters
    the scan with it and jobs/ann_job.py counts kept chunks with it, so the
    reported chunk stats can never drift from what the decode actually
    kept."""
    keep = F.col("cluster_lo").isNull()
    for rlo, rhi in ranges:
        keep = keep | ~(
            (F.col("cluster_hi") < F.lit(rlo))
            | (F.col("cluster_lo") > F.lit(rhi))
        )
    return keep


def decode_chunks_where_clustered(
    spark: SparkSession,
    out_dir: str,
    lo: int | None = None,
    hi: int | None = None,
    schema: str | None = None,
    global_dicts: dict | None = None,
    columns: list[str] | None = None,
    ranges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Scan-level zone-map pruning on a cluster-stamped sink (encode ran
    with ``encode_pages(cluster_by=...)``): every chunk row carries the
    chunk's [cluster_lo, cluster_hi] for the sink's declared cluster
    column, so the range predicate is an ORDINARY parquet filter —

    - no driver-side keep-set collect (decode_chunks_where's
      ``_ISIN_PUSHDOWN_MAX`` bound disappears; works at any chunk count),
    - pushed to the scan (PushedFilters on cluster_lo/cluster_hi), which on
      a range-clustered layout prunes whole row groups via parquet stats,
    - chunk-atomic by construction (all rows of a chunk share the pair).

    Chunks with NULL cluster stats (non-numeric domain, all-null column,
    or rows from a sink written before stamps existed) are always kept.
    ``lo``/``hi`` are in the cluster column's int64 domain (epoch-µs for
    timestamps). Sinks with no stamp at all (encoded WITHOUT cluster_by,
    or before stamps existed) raise loudly.

    ``ranges`` (round 8) takes a LIST of [lo, hi] pairs instead — ONE scan
    with an OR-of-ranges predicate, so a chunk overlapping several ranges
    still decodes exactly once (chunk-atomic; per-range decode calls would
    double-decode it). This is what scattered IVF probe cells need: a
    single [min, max] envelope over non-adjacent probes keeps nearly every
    chunk (measured 15/16 on the ann_sink bench), the OR of per-run ranges
    keeps only the probed ones."""
    from ..operators.encode import decode_chunks, subset_schema

    data = read_encoded(spark, out_dir)
    if columns:
        data = data.filter(F.col("column").isin(columns))
    # a sink written without cluster_by (or before stamps existed) reads
    # all-NULL stamps, and the keep-filter would silently decode
    # everything. Probe one column-pruned row (limit 1 short-circuits the
    # scan) so that case fails loud instead.
    if not data.filter(F.col("cluster_lo").isNotNull()).limit(1).collect():
        raise ValueError(
            f"sink {out_dir} has no non-NULL cluster stamps (encoded "
            "without cluster_by, or the cluster column was all-null) — "
            "range pruning is impossible; use decode_chunks_where()"
        )
    if ranges is None:
        if lo is None or hi is None:
            raise ValueError("pass either lo/hi or ranges=[(lo, hi), ...]")
        ranges = [(lo, hi)]
    elif lo is not None or hi is not None:
        raise ValueError("pass either lo/hi or ranges, not both")
    elif not ranges:
        raise ValueError("ranges must be non-empty")
    keep = cluster_ranges_keep_predicate(ranges)
    out_schema = subset_schema(columns, schema) if columns else schema
    return decode_chunks(data.filter(keep), out_schema, global_dicts)


def sink_stats(spark: SparkSession, enc_or_dir) -> DataFrame:
    """Scan-free per-column statistics of a chunk sink, answered ENTIRELY
    from the manifest — the parquet-footer/Iceberg-manifest aggregate
    pushdown applied to the engine's own sink: ``count(*)``, ``min``,
    ``max``, and exact logical ``sum(byte length)`` over a 100 TB corpus
    without touching one payload byte (parquet column pruning keeps the
    payload column out of the scan — plan-asserted in tests).

    One row per column: ``n_chunks``, ``n_rows``, ``data_bytes`` (exact
    logical value bytes, recorded in the encode kernel), ``bytes_out``
    (compressed footprint), ``min_long``/``max_long`` (the zone-map
    min/max in the numeric domain — ints as values, timestamps/dates as
    epoch in the column's unit; NULL for string domains via try_cast),
    ``min_str``/``max_str`` (string domains ONLY — numeric columns read
    NULL here, string columns NULL in min_long/max_long: the JSON quoting
    of the zone map decides, so a numeric-looking string column can never
    leak lexicographic bounds into the long stats), and
    ``stats_complete``. Duplicated sinks (resume over drifted input) are
    deduped before the sums — counts stay exact.

    ``min``/``max`` are EXACT only when ``stats_complete`` is true: a
    chunk writes no zone-map stats when its values are oversized strings
    (> _STATS_MAX_STR) or the chunk is all-null. The all-null case is
    harmless (no values — SQL min/max ignore it), so completeness counts
    only stat-less chunks that DO carry values (``data_bytes > 0``);
    all-null int chunks still record fixed-width data_bytes and are
    flagged conservatively. ``n_rows``/``data_bytes``/``bytes_out`` are
    exact regardless."""
    enc = (
        read_encoded(spark, enc_or_dir)
        if isinstance(enc_or_dir, str)
        else enc_or_dir
    )
    # duplicate (chunk_id, column) rows — resume over drifted input — are
    # value-identical by contract and deduped by every reader; the SUM
    # aggregates here would double-count them (min/max would not).
    # Manifest-scale shuffle, payload column still absent from the scan.
    enc = enc.dropDuplicates(["chunk_id", "column"])
    mn = F.get_json_object("stats", "$.min")
    mx = F.get_json_object("stats", "$.max")
    # string-domain zone maps JSON-quote their values ('"min":"...'); the
    # numeric try_cast must NOT apply to them — a numeric-LOOKING string
    # column ('9' < '10' lexicographically) would otherwise cast its
    # lexicographic bounds into inverted long stats
    # whitespace-tolerant: every in-repo stats writer serializes compact
    # (separators=(",", ":")), but a future writer using json.dumps
    # defaults ('"min": "...') must not silently flip string columns into
    # the numeric branch (lexicographic bounds leaking into min_long —
    # the exact inversion this guard exists to prevent; r8 ADVICE item 3).
    # The pattern cannot match inside a JSON string VALUE: quotes there
    # are \"-escaped by every JSON serializer.
    str_dom = F.col("stats").rlike('"min"\\s*:\\s*"')
    long_of = lambda col: F.when(
        ~str_dom,
        F.expr(f"try_cast(get_json_object(stats, '$.{col}') as long)"),
    )
    return (
        enc.groupBy("column")
        .agg(
            F.countDistinct("chunk_id").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("data_bytes").alias("data_bytes"),
            F.sum("bytes_out").alias("bytes_out"),
            F.min(long_of("min")).alias("min_long"),
            F.max(long_of("max")).alias("max_long"),
            F.min(F.when(str_dom, mn)).alias("min_str"),
            F.max(F.when(str_dom, mx)).alias("max_str"),
            # keyed on $.min, not the stats column: a bloomed chunk whose
            # values are oversized carries a stats JSON with a bloom but
            # NO zone map — still incomplete for min/max purposes
            (F.count_if(
                mn.isNull() & (F.col("data_bytes") > 0)
            ) == 0).alias("stats_complete"),
        )
        .orderBy("column")
    )


def _sink_probe(enc: DataFrame) -> dict:
    """ONE aggregate over the payload-pruned manifest answers every question
    a rewrite asks of a sink — the public :func:`sink_has_duplicates` and
    :func:`sink_bloom_columns` read theirs from it too, so each answer has
    a single definition:

    - ``duplicated``: some (chunk_id, column) row appears more than once
      (a job resumed over drifted input — lineage docstring above);
    - ``chunks``: the number of distinct chunk ids;
    - ``stamped``: some chunk row carries a cluster stamp;
    - ``bloom_columns``: sorted names of the columns carrying a Bloom
      filter in their stats — blooms name their column, so rewrites
      re-derive ``bloom_by`` from the sink (cluster stamps do NOT record
      their source column, so ``cluster_by`` must be passed).

    Sinks written before the stats or cluster columns existed read them as
    NULL (:func:`read_encoded`), so they probe as unbloomed and
    unstamped."""
    dom = F.get_json_object("stats", "$.bloom.dom")
    r = enc.agg(
        F.count("*").alias("n"),
        F.countDistinct("chunk_id", "column").alias("n_distinct"),
        F.countDistinct("chunk_id").alias("chunks"),
        F.count("cluster_lo").alias("stamped"),
        F.collect_set(F.when(dom.isNotNull(), F.col("column"))).alias("bloomed"),
    ).first()
    return {
        "duplicated": r["n"] != r["n_distinct"],
        "chunks": r["chunks"],
        "stamped": r["stamped"] > 0,
        "bloom_columns": sorted(r["bloomed"]),
    }


def sink_bloom_columns(enc: DataFrame) -> list[str]:
    """Column names carrying a Bloom filter in this sink's stats (see
    :func:`_sink_probe`)."""
    return _sink_probe(enc)["bloom_columns"]


def bloom_candidate_chunks(
    st: DataFrame, key_column: str, ids, spark: SparkSession
) -> DataFrame:
    """chunk_id DataFrame of chunks that MAY contain any of ``ids`` in
    ``key_column``, judged manifest-side against the per-chunk Bloom
    filters (plans/bloom.py). ``st`` is the key column's (chunk_id, stats)
    projection. Chunk rows without a bloom are kept conservatively —
    pruning is safe, not clever (same contract as the zone maps). Raises
    if the key column has no chunk rows (misspelled), or if NO chunk row
    carries a bloom: a silent full scan from a point-lookup API is the
    unprunable-sink bug this engine fails loud on. One probe job answers
    both and reads the hash domain: bloomed rows sort first. (A global
    aggregate would be two jobs under AQE.) The point lookup tests blooms
    inside its key scan (:func:`_key_scan`) instead; this manifest-side
    form stays for perfbench's traced ``prune.kept_ratio.lookup``.
    """
    from .bloom import hash_query_ids, stats_hit_udf

    dom = F.get_json_object("stats", "$.bloom.dom").alias("dom")
    probe = st.select(dom).orderBy(F.col("dom").isNull()).limit(1).collect()
    if not probe:
        raise ValueError(
            f"column {key_column!r} has no chunk rows in this sink — "
            "misspelled key columns must fail loud, not decode nothing"
        )
    if probe[0]["dom"] is None:
        raise ValueError(
            f"no Bloom filters on column {key_column!r} in this sink — "
            "encode with encode_pages(bloom_by=[...]) or use decode_chunks "
            "+ a row filter (full scan) explicitly"
        )
    hit = stats_hit_udf(spark, hash_query_ids(ids, probe[0]["dom"]))
    no_bloom = F.get_json_object("stats", "$.bloom.m").isNull()
    return st.filter(no_bloom | hit(F.col("stats"))).select("chunk_id")


def _purge_mask(key, ids):
    """The keyed ops' ONE row predicate: which rows of a chunk's decoded
    key column match the ids. The key scan counts them, the lookup keeps
    and the takedown drops exactly them. ``ids`` come from
    :func:`_key_scan`; a key of another type is brought into the ids'
    domain (dates through their epoch days). A NULL key never matches and
    the ids hold no NULL, so a NULL id matches nothing."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if key.type != ids.type:
        if pa.types.is_date(key.type):
            key = key.cast(pa.int32())
        key = key.cast(ids.type)
    return pc.is_in(key, value_set=ids, skip_nulls=True)


def _key_scan(enc: DataFrame, key_column: str, ids, schema, global_dicts):
    """The ONE key scan of both keyed ops (:func:`decode_chunks_where_key_in`,
    :func:`delete_from_sink`): one shuffle-free ``mapInArrow`` job over
    the key column's chunk rows (a chunk's key column is one row) that
    tests each chunk's Bloom filter against the hashed ids, decodes only
    the admitted key payloads and counts the exact hits
    (:func:`_purge_mask`). Returns the broadcast id set and one
    ``(chunk_id, n_rows, scanned, bloomed, hits)`` dict per chunk row.

    The id set is built once, NULL-free. DataFrame ids compare in the
    key's own type and test no bloom. List ids compare in the bloom/zone-
    map domain (epoch-µs timestamps, epoch-day dates, int64 integers) and
    are hashed in the domain the writer stamps for the key's type
    (``bloom_domain``); an id outside it raises rather than silently
    never matching."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructType

    from ..codecs.api import decode_array
    from ..operators.encode import _expected_arrow_fields
    from ..sources.pages import PAGES_SCHEMA
    from .bloom import bloom_contains_any, bloom_domain, hash_query_ids

    struct = StructType.fromDDL(schema or PAGES_SCHEMA)
    if key_column not in struct.fieldNames():
        raise ValueError(
            f"key column {key_column!r} is not in the schema — misspelled "
            "key columns must fail loud, not match no chunk rows"
        )
    ((_, want),) = _expected_arrow_fields(StructType([struct[key_column]]))
    dom, hashes = bloom_domain(want), None
    if isinstance(ids, DataFrame):
        col = ids.select(ids.columns[0]).toArrow().column(0)
        id_set = pc.unique(col.combine_chunks().drop_null().cast(want))
    elif struct[key_column].dataType.typeName() == "timestamp_ntz":
        raise TypeError(
            "timestamp_ntz key columns have no session-tz-free epoch "
            "mapping for list ids — pass ids as a DataFrame instead"
        )
    else:
        vals = [i for i in ids if i is not None]
        if dom is not None:
            hashes = hash_query_ids(vals, dom) if vals else np.zeros(0, np.uint64)
        id_dom = pa.int64() if dom == "int" else want
        try:
            id_set = pa.array(vals, id_dom)
        except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError, OverflowError) as e:
            raise TypeError(
                f"ids do not fit the {id_dom} domain of key column "
                f"{key_column!r} ({e}) — they would never match"
            ) from None
    sc = enc.sparkSession.sparkContext
    ids_bc, h_bc = sc.broadcast(id_set), sc.broadcast(hashes)
    gd_bc = sc.broadcast((global_dicts or {}).get(key_column))

    def scan(batches):
        drop_zip_finders()
        id_vals, h, gd = ids_bc.value, h_bc.value, gd_bc.value
        for b in batches:
            stats = b.column("stats").to_pylist()
            metas = b.column("meta").to_pylist()
            payloads = b.column("payload")
            scanned, bloomed, hits = [], [], []
            for i in range(b.num_rows):
                bloom = json.loads(stats[i]).get("bloom") if stats[i] else None
                bloomed.append(bloom is not None)
                # chunk rows without a bloom, or hashed in another domain
                # (a mixed-era sink), are decoded conservatively
                if h is not None and bloom is not None and bloom["dom"] == dom \
                        and not bloom_contains_any(bloom, h):
                    scanned.append(False)
                    hits.append(0)
                    continue
                key = decode_array(payloads[i].as_py(), metas[i], global_dict=gd)
                scanned.append(True)
                hits.append(_purge_mask(key, id_vals).true_count)
            yield pa.RecordBatch.from_arrays(
                [b.column("chunk_id"), b.column("n_rows"),
                 pa.array(scanned, pa.bool_()), pa.array(bloomed, pa.bool_()),
                 pa.array(hits, pa.int64())],
                names=["chunk_id", "n_rows", "scanned", "bloomed", "hits"],
            )

    key_rows = enc.filter(F.col("column") == key_column).select(
        "chunk_id", "n_rows", "stats", "meta", "payload"
    )
    out = "chunk_id long, n_rows long, scanned boolean, bloomed boolean, hits long"
    return ids_bc, key_rows.mapInArrow(scan, out).toArrow().to_pylist()


def decode_chunks_where_key_in(
    spark: SparkSession,
    enc_or_dir,
    key_column: str,
    ids,
    schema: str | None = None,
    global_dicts: dict | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Bloom-pruned POINT LOOKUP: the rows whose ``key_column`` is in
    ``ids`` — "fetch THESE documents by url/doc_id" decoding ~|ids| chunks
    of the corpus instead of all of it.

    The equality twin of decode_chunks_where: zone maps prune ranges,
    blooms prune point sets (per-chunk [min, max] of a high-cardinality
    key spans nearly the whole domain, so a zone map never prunes an
    equality probe). Three Spark jobs warm: the takedown's key scan
    (:func:`_key_scan`), then one grouped decode of the chunks with an
    exact hit (a bloom false positive costs a key decode only) that keeps
    the rows :func:`_purge_mask` matches. Composes with the same
    projection pushdown (``columns``; a key column left out of it is
    decoded for the exact row match, then dropped).

    ``ids`` compare as in :func:`_key_scan`: the hash domain comes from
    the key's type, and a list id outside it raises. A NULL id matches no
    row, and no ids return no rows. Sinks without blooms on
    ``key_column`` raise; chunk rows without a bloom (mixed-era sinks)
    decode conservatively.

    ``enc_or_dir``: a sink path (directory pruning applies on
    column-partitioned layouts) or an encoded DataFrame (in-memory
    composition — e.g. a just-encoded table queried without a sink)."""
    import pyarrow as pa

    from ..operators.encode import (
        _expected_arrow_fields,
        decode_chunk_group,
        subset_schema,
    )
    from ..sources.pages import PAGES_SCHEMA

    enc = (
        read_encoded(spark, enc_or_dir) if isinstance(enc_or_dir, str)
        else enc_or_dir
    )
    ids_bc, rows = _key_scan(enc, key_column, ids, schema, global_dicts)
    if not any(r["bloomed"] for r in rows):
        raise ValueError(
            f"no Bloom filters on column {key_column!r} in this sink — "
            "encode with encode_pages(bloom_by=[...]) or use decode_chunks "
            "+ a row filter (full scan) explicitly"
        )
    dec_set = sorted(set(columns) | {key_column}) if columns else None
    data = enc.filter(F.col("column").isin(dec_set)) if dec_set else enc
    hit, _ = _chunk_id_filter(data, {r["chunk_id"] for r in rows if r["hits"]})
    out_schema = subset_schema(dec_set, schema) if dec_set else schema or PAGES_SCHEMA
    exp_fields = _expected_arrow_fields(out_schema)
    exp_names = [n for n, _ in exp_fields]
    gd_bc = enc.sparkSession.sparkContext.broadcast(global_dicts or {})

    def decode(table: pa.Table) -> pa.Table:
        drop_zip_finders()
        chunk = pa.RecordBatch.from_arrays(
            decode_chunk_group(table, exp_fields, gd_bc.value), names=exp_names
        )
        keep = _purge_mask(chunk.column(key_column), ids_bc.value)
        return pa.Table.from_batches([chunk.filter(keep)])

    dec = hit.groupBy("chunk_id").applyInArrow(decode, out_schema)
    if columns and key_column not in columns:
        dec = dec.drop(key_column)
    return dec


def completed_chunk_ids(spark: SparkSession, out_dir: str, n_columns: int) -> set[int]:
    """Chunks with all columns present (a torn write of some columns does not
    count as done). countDistinct, not count(*): duplicate manifest rows (the
    documented duplicate-append scenario) must not let a chunk with a missing
    column pass as complete. Only the missing-sink case (first run) maps to
    the empty set, and it is asked of the path's Hadoop FileSystem, so
    ``file:`` and ``hdfs:`` sinks behave alike and no failed read query is
    run (an ``Observation`` listener would log its stack trace). Any manifest
    read failure raises, because silently disabling resume would re-encode
    and append duplicate chunk rows."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(chunks_path(out_dir))
    if not path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(path):
        return set()  # first run: no sink yet
    rows = (
        read_manifest(spark, out_dir).groupBy("chunk_id")
        .agg(F.countDistinct("column").alias("n_cols"))
        .filter(F.col("n_cols") >= n_columns)
        .select("chunk_id")
        .collect()
    )
    return {r["chunk_id"] for r in rows}


def sink_has_duplicates(spark: SparkSession, out_dir: str) -> bool:
    """True if any (chunk_id, column) row appears more than once — happens
    when a job is resumed over drifted input (lineage docstring above). A
    duplicated sink must be decoded with the grouped path (decode_chunks
    dedupes inside the group); the colocated path would emit each duplicated
    chunk once per copy. Payload-pruned scan: this costs a manifest read."""
    return _sink_probe(read_encoded(spark, out_dir))["duplicated"]


def _open_rewrite(
    spark: SparkSession, src_dir: str, cluster_by: str | None, unprunable: str
) -> tuple[DataFrame, dict]:
    """Source side of delete_from_sink / compact_sink: the sink's ONE
    manifest probe, the stamped-sink guard (re-stamping needs the stamp
    column's name, which the sink does not record; ``unprunable`` says
    what would go wrong without it), and the dedupe of a duplicated sink.
    Only a duplicated sink is materialized: a clean sink's parquet files
    ARE the materialization — an unconditional payload localCheckpoint
    copies the corpus before any work (measured as the single biggest
    takedown cost)."""
    enc = read_encoded(spark, src_dir)
    probe = _sink_probe(enc)
    if probe["stamped"] and cluster_by is None:
        raise ValueError(
            f"sink at {src_dir} carries cluster stamps but no cluster_by "
            f"was given — {unprunable}"
        )
    if probe["duplicated"]:
        enc = enc.dropDuplicates(["chunk_id", "column"]).localCheckpoint()
    return enc, probe


def _rewrite_sink(
    enc: DataFrame, dst_dir: str, victims: set | None, rewrite,
    partition_by_column: bool,
) -> None:
    """The rewrite core every sink rewrite shares: carry every non-victim
    chunk's rows RAW (no decode, no codec CPU), hand the victim chunks'
    rows (``None``: all of them) to the op's ``rewrite`` — sink rows in,
    re-encoded sink rows out — and commit ONCE with errorifexists, the
    all-or-nothing crash contract (a mid-write kill leaves only
    ``_temporary``; the source is never touched). No victims: the sink is
    copied as is."""
    if victims is not None and not victims:
        write_encoded(
            enc, dst_dir, mode="errorifexists",
            partition_by_column=partition_by_column,
        )
        return
    doomed, carried = enc, None
    if victims is not None:
        doomed, _ = _chunk_id_filter(enc, victims, keep=True)
        carried, _ = _chunk_id_filter(enc, victims, keep=False)
    out = rewrite(doomed)
    write_encoded(
        out if carried is None else carried.unionByName(out),
        dst_dir, mode="errorifexists", partition_by_column=partition_by_column,
    )


def _regroup_rewrite(
    bloom_by: list[str], regroup, schema: str | None,
    cluster_by: str | None, codec: str, global_dicts: dict | None,
):
    """The merging rewrite of :func:`compact_sink` and :func:`recluster_sink`:
    decode the victim chunks, ``regroup`` their rows across chunks, and
    re-encode with the source's blooms and ``cluster_by`` (a rewrite never
    downgrades the sink's pruning; ``shuffle=False`` keeps the regroup's
    layout)."""
    from ..operators.encode import decode_chunks, encode_pages

    def rewrite(doomed: DataFrame) -> DataFrame:
        rows = decode_chunks(doomed, schema=schema, global_dicts=global_dicts)
        return encode_pages(
            regroup(rows), codec=codec, shuffle=False, cluster_by=cluster_by,
            global_dicts=global_dicts, bloom_by=bloom_by,
        )

    return rewrite


def recluster_sink(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    cluster_by: str,
    schema: str | None = None,
    n_partitions: int | None = None,
    codec: str = "auto",
    global_dicts: dict | None = None,
    partition_by_column: bool = False,
) -> None:
    """Rewrite an existing chunk sink range-clustered on ``cluster_by`` —
    the columnar engine's OPTIMIZE/compaction: sinks built without
    ``encode_pages(cluster_by=...)`` (e.g. pre-round-3, or appended and
    ticked in without ``cluster_by``) have no scan-level
    zone maps and decode in full; this job makes them range-prunable.

    Plan: grouped decode of the source sink (tolerates duplicated chunks —
    decode_chunks dedupes in the group) → ``repartitionByRange`` on the
    cluster column (a range shuffle, so chunk [lo, hi] windows are narrow
    AND the sink's parquet row groups are range-sorted — both pruning
    levers at once) → re-encode with ``cluster_by`` → fresh sink at
    ``dst_dir``. Cost: one full decode + one range shuffle + one encode of
    the data — the honest price of reclustering at any scale; at 100 TB
    run it column-complete per time slice, not all-at-once.

    The re-encode keeps the range partitioning and re-stamps the source
    sink's Bloom filters (:func:`_regroup_rewrite`) — OPTIMIZE must never
    downgrade a sink's pruning capabilities.

    The written chunk ids are NOT reproducible across runs: Spark's range
    partitioner seeds its bound sample with the RDD id, so identical runs
    draw different bounds, cut the rows into different chunks and write
    different chunk-id sets. The decoded rows are the same."""
    src = read_encoded(spark, src_dir)
    n = n_partitions or spark.sparkContext.defaultParallelism
    _rewrite_sink(
        src, dst_dir, None,
        _regroup_rewrite(
            _sink_probe(src)["bloom_columns"],
            lambda pages: pages.repartitionByRange(n, F.col(cluster_by)),
            schema, cluster_by, codec, global_dicts,
        ),
        partition_by_column,
    )
    # a rewrite whose cluster column was entirely NULL produces exactly the
    # silent-unprunable sink this engine fails loud on — check the result
    if not _sink_probe(read_encoded(spark, dst_dir))["stamped"]:
        raise ValueError(
            f"recluster produced no non-NULL cluster stamps at {dst_dir} — "
            f"column {cluster_by!r} is all-null (or the source sink was "
            "empty); the rewritten sink would be unprunable"
        )


def append_encoded(pages: DataFrame, out_dir: str, **encode_kw) -> int:
    """Encode ``pages`` into the sink at ``out_dir``, skipping every chunk
    the sink already holds complete — the ONE resumable append; every sink
    append (the batch encode job, :func:`iceberg_ingest_tick`) goes
    through it. ``encode_kw`` are :func:`operators.encode.encode_pages`'
    options, forwarded as is. Returns the number of chunks skipped.

    At-least-once in, exactly-once out: a replayed or restarted identical
    append re-derives the same content-addressed chunk ids, finds them in
    the manifest (driver-side, ids only — a few bytes per chunk) and
    appends nothing for them; a chunk is complete when it has a row for
    every column of ``pages``. The append is chunk-atomic: uncommitted
    task output lives under ``_temporary`` (readers skip it), one task
    writes each chunk's column rows into one file, and the job commit
    renames those files into place one at a time — so a failed or killed
    append leaves nothing a reader (or the next skip set) can see, and a
    concurrent reader sees whole chunks only. A first run pays only the
    missing-path check."""
    from ..operators.encode import encode_pages

    done = completed_chunk_ids(pages.sparkSession, out_dir, len(pages.columns))
    enc = encode_pages(pages, skip_chunk_ids=done, **encode_kw)
    write_encoded(enc, out_dir, mode="append")
    return len(done)


def iceberg_ingest_tick(
    spark: SparkSession,
    table_dir: str,
    sink_dir: str,
    codec: str = "auto",
    salt_buckets: int = 8,
    cluster_by: str | None = None,
    partition_cols: list[str] | None = None,
) -> dict:
    """One cycle of the production ingestion daemon: poll the Iceberg
    table for commits newer than the sink's watermark, encode-append
    exactly that snapshot diff, advance the watermark. Returns what the
    tick did: ``from_snapshot`` (the watermark it started from),
    ``to_snapshot`` (the table's current snapshot), ``rows`` (rows read
    from the diff; 0 on a noop), ``noop``, and on a non-noop tick
    ``chunks_skipped`` (chunks the sink already held) plus, after a
    recovery from an expired watermark snapshot,
    ``watermark_expired_file_diff``.

    Exactly-once WITHOUT a transactional store: ticks are at-least-once
    (a crash between the encode-append and the watermark write makes the
    next tick re-read the same diff), but the encode skips chunks whose
    content-addressed ids the sink manifest already holds — so replays
    re-encode nothing and the sink converges to exactly-once regardless of
    where a tick died. The watermark is just an optimization cursor, never
    a correctness mechanism. It records the snapshot id AND that snapshot's
    live file list: if maintenance (expire_snapshots) expires the watermark
    snapshot, the tick recovers by replaying exactly the files not yet
    ingested (immutable-file identity) — same rows, same chunking,
    exactly-once preserved. A legacy watermark without a file list cannot
    recover from expiry and raises (hand-reset the watermark file then).

    Semantics: the sink is an append-only LOG of ingested rows, not a
    mirror of the table — an OVERWRITE commit upstream ingests the new
    snapshot's rows in full (its files are all "added") while previously
    ingested rows stay in the sink; pair with the dedup/recluster batch
    jobs if superseded history must be compacted away."""
    from ..sources.iceberg_lite import (
        SnapshotNotFoundError,
        _atomic_write,
        iceberg_data_files,
        read_iceberg,
        read_iceberg_file_diff,
        read_iceberg_incremental,
        read_table_meta,
    )

    wm_path = os.path.join(sink_dir, "_iceberg_watermark.json")
    last, seen_files = 0, None
    if os.path.exists(wm_path):
        with open(wm_path) as f:
            wm = json.load(f)
        last = wm["snapshot_id"]
        seen_files = wm.get("files")
    meta = read_table_meta(table_dir)
    current = meta["current-snapshot-id"]
    out = {"from_snapshot": last, "to_snapshot": current, "rows": 0}
    if current == last:
        return {**out, "noop": True}
    if last:
        try:
            diff = read_iceberg_incremental(spark, table_dir, last)
        except SnapshotNotFoundError:
            # typed catch (ADVICE r5): exactly the expired-snapshot
            # condition routes to recovery — any other ValueError
            # propagates, message wording notwithstanding
            if seen_files is None:
                raise
            # the watermark snapshot was expired by expire_snapshots (the
            # maintenance job). Recover via the recorded ingested-FILE set:
            # Iceberg data files are immutable, so replaying exactly the
            # unseen files reproduces the rows AND the chunking an
            # incremental read would have produced — the skip set keeps the
            # sink exactly-once. (A full-table re-read would shuffle
            # old+new rows into DIFFERENT chunks and duplicate rows.)
            diff = read_iceberg_file_diff(spark, table_dir, seen_files)
            out["watermark_expired_file_diff"] = True
    else:
        diff = read_iceberg(spark, table_dir)
    # the append's write counts the diff on the way: no second scan of
    # the Iceberg data files
    rows = Observation()
    out["chunks_skipped"] = append_encoded(
        diff.observe(rows, F.count(F.lit(1)).alias("n")), sink_dir,
        codec=codec, salt_buckets=salt_buckets, cluster_by=cluster_by,
        # non-pages tables (round 6): declare the co-location key so the
        # tick ingests ANY Iceberg table, not just the pages layout
        partition_cols=partition_cols,
    )
    # an empty diff's shuffle stage is pruned by AQE together with the
    # observed count, leaving no metric (Observation.get would fail on
    # it): no metric means no row was read
    out["rows"] = dict(rows._jo.getAsJava()).get("n", 0)
    os.makedirs(sink_dir, exist_ok=True)
    # the watermark records the snapshot AND its live file list: the file
    # set is the expiry-proof recovery cursor (one path per data file —
    # same O(n_files) scale as the manifests themselves). Written
    # atomically: the list spans many write syscalls, and a tick killed
    # mid-write must not leave a torn JSON that bricks every later tick.
    files_cur, _ = iceberg_data_files(table_dir, current)
    _atomic_write(
        wm_path, json.dumps({"snapshot_id": current, "files": files_cur})
    )
    return {**out, "noop": False}


def encode_resumable(pages: DataFrame, out_dir: str, **encode_kw) -> dict:
    """Run (or resume) the encode job (:func:`append_encoded`); returns the
    chunks skipped plus the whole sink's manifest totals."""
    skipped = append_encoded(pages, out_dir, **encode_kw)
    agg = read_manifest(pages.sparkSession, out_dir).agg(
        F.countDistinct("chunk_id").alias("chunks"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
    ).collect()[0]
    return {
        "chunks_skipped": skipped,
        "chunks_total": agg["chunks"],
        "bytes_in": agg["bytes_in"],
        "bytes_out": agg["bytes_out"],
    }


def delete_from_sink(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    ids,
    key_column: str = "doc_id",
    schema: str | None = None,
    cluster_by: str | None = None,
    codec: str = "auto",
    global_dicts: dict | None = None,
    partition_by_column: bool = False,
) -> dict:
    """Row-level takedown on a compressed chunk sink: rewrite ``src_dir``
    to ``dst_dir`` with every row whose ``key_column`` is in ``ids``
    removed — the right-to-be-forgotten / contaminated-document purge a
    training-corpus store must support without re-encoding the corpus.

    Three passes (six Spark jobs on a clean sink with list ids):

    1. the source's one manifest probe (:func:`_sink_probe`: duplicates,
       stamps, bloomed columns);
    2. the key scan the point lookup also runs (:func:`_key_scan`: a Bloom
       test per chunk, a decode of the admitted key payloads, exact hit
       counts) — the affected set and ``rows_deleted`` in one collect of
       metadata-scale rows;
    3. one write, committed all-or-nothing (:func:`_rewrite_sink`): every
       unaffected chunk's rows are carried RAW (no decode, no codec CPU —
       pure IO in the same cost class as any compaction pass; batch
       takedowns to amortize it, exactly as Iceberg's rewrite-files
       treats accumulated deletes), and each affected chunk is decoded,
       purged and re-encoded in ONE Python call per chunk
       (operators.encode.encode_chunk), so its rows never cross back into
       the JVM in between.

    Each affected chunk therefore has at most one successor: its
    surviving rows, in their order, re-encoded with the sink's blooms
    (``sink_bloom_columns`` — blooms name their column, so no parameter
    is needed) and, on a stamped sink, a fresh cluster stamp. A chunk
    whose every row is doomed has none. The written chunk ids depend only
    on the source and ``ids``, so the same takedown writes the same sink.

    ``ids`` is a Python iterable of key values or a single-column
    DataFrame, for takedown lists that do not exist driver-side; both
    compare as :func:`_key_scan` says, and only list ids prune the scan
    with the blooms. A NULL key is never purged, and no ids copy the sink.

    A sink carrying cluster stamps requires ``cluster_by`` (the stamp
    column's name, which the sink does not record): rewriting its chunks
    without re-stamping would leave NULL-stamped chunks that every range
    prune must conservatively scan — silent unprunable chunks are a bug,
    not a mode, so this raises instead.

    Returns ``{"chunks_total", "chunks_affected", "chunks_new",
    "rows_deleted", "chunks_key_scanned"}``: ``chunks_new`` counts the
    affected chunks with surviving rows, ``chunks_key_scanned`` the
    chunks whose key payload the scan decoded."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructType

    from ..operators.encode import (
        _ENCODED_ARROW,
        ENCODED_SCHEMA,
        _expected_arrow_fields,
        check_encodable,
        decode_chunk_group,
        encode_chunk,
    )
    from ..sources.pages import PAGES_SCHEMA

    enc, probe = _open_rewrite(
        spark, src_dir, cluster_by,
        "rewriting chunks without re-stamping would make them silently "
        "unprunable; pass the sink's cluster column",
    )
    out_struct = StructType.fromDDL(schema or PAGES_SCHEMA)
    bloom_set = frozenset(probe["bloom_columns"])
    check_encodable(out_struct, cluster_by, bloom_set)
    exp_fields = _expected_arrow_fields(out_struct)
    exp_names = [n for n, _ in exp_fields]
    ids_bc, rows = _key_scan(enc, key_column, ids, schema, global_dicts)
    hit = {r["chunk_id"]: r for r in rows if r["hits"]}
    gd_bc = spark.sparkContext.broadcast(global_dicts or {})

    def purge(table: pa.Table) -> pa.Table:
        drop_zip_finders()
        gds = gd_bc.value
        chunk = pa.RecordBatch.from_arrays(
            decode_chunk_group(table, exp_fields, gds), names=exp_names
        )
        doomed = _purge_mask(chunk.column(key_column), ids_bc.value)
        left = chunk.filter(pc.invert(doomed))
        if left.num_rows == 0:
            return _ENCODED_ARROW.empty_table()
        return pa.Table.from_batches(
            [encode_chunk(left, codec, gds, cluster_by, bloom_set)]
        )

    def rewrite(doomed: DataFrame) -> DataFrame:
        return doomed.groupBy("chunk_id").applyInArrow(purge, ENCODED_SCHEMA)

    _rewrite_sink(enc, dst_dir, set(hit), rewrite, partition_by_column)
    return {
        "chunks_total": probe["chunks"],
        "chunks_affected": len(hit),
        "chunks_new": sum(r["n_rows"] > r["hits"] for r in hit.values()),
        "rows_deleted": sum(r["hits"] for r in hit.values()),
        "chunks_key_scanned": sum(r["scanned"] for r in rows),
    }


def compact_sink(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    min_rows: int,
    schema: str | None = None,
    cluster_by: str | None = None,
    codec: str = "auto",
    global_dicts: dict | None = None,
    partition_by_column: bool = False,
) -> dict:
    """Merge FRAGMENT chunks (n_rows < ``min_rows``) into full-size ones —
    the small-files compaction every append- or tick-built sink eventually
    needs: each append and each ingest tick writes its own chunks, so a
    low-rate ingest accretes thousands of tiny chunks whose per-chunk
    overheads (manifest rows, codec framing, per-chunk decode tasks)
    erode scan efficiency long before data volume does.

    Surgical like :func:`delete_from_sink`, and cheaper still: victim
    selection reads ONLY manifest metadata (``n_rows`` is a column of the
    chunk row — no payload is touched to decide, and the fragments' row
    total is summed from it), fragments alone pay decode + re-encode
    (regrouped to the session's Arrow batch size, i.e. the engine's
    standard chunk row count), and every full-size chunk's rows are
    carried RAW to ``dst_dir``. One all-or-nothing parquet commit,
    ``src_dir`` never touched.

    A lone fragment is carried, not rewritten — re-encoding a single
    chunk by itself merges nothing and would only churn its chunk id.

    Stamped sinks require ``cluster_by`` (re-stamp on rewrite; the merged
    chunks are ``repartitionByRange`` on that column so the compacted
    chunks stay range-narrow); bloomed sinks re-stamp blooms
    automatically (``sink_bloom_columns``). Rewrite invariant shared with
    delete_from_sink: a rewrite may never downgrade the sink's pruning.
    The merged chunks' ids are NOT reproducible across runs when the range
    regroup has more than one partition (see :func:`recluster_sink`).

    Returns ``{"chunks_total", "chunks_fragment", "chunks_new",
    "rows_compacted"}``."""
    enc, probe = _open_rewrite(
        spark, src_dir, cluster_by,
        "compacting without re-stamping would make the merged chunks "
        "silently unprunable; pass the cluster column",
    )
    frag = {
        r["chunk_id"]: r["n_rows"]
        for r in enc.filter(F.col("n_rows") < min_rows)
        .select("chunk_id", "n_rows")
        .distinct()
        .collect()
    }
    victims = frag if len(frag) > 1 else {}
    n_rows = sum(victims.values())
    # regroup to the engine's standard chunk size: the session's Arrow
    # batch row count IS the chunk row count (session.py pins it)
    target = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    n_out = max(1, -(-n_rows // target))

    def regroup(rows: DataFrame) -> DataFrame:
        if cluster_by is not None:
            return rows.repartitionByRange(n_out, F.col(cluster_by))
        return rows.repartition(n_out)

    _rewrite_sink(
        enc, dst_dir, set(victims),
        _regroup_rewrite(
            probe["bloom_columns"], regroup, schema, cluster_by, codec,
            global_dicts,
        ),
        partition_by_column,
    )
    # probed from the WRITTEN sink: counting the encode pre-write would
    # run it twice
    n_new = (
        _sink_probe(read_encoded(spark, dst_dir))["chunks"] - probe["chunks"]
        + len(victims) if victims else 0
    )
    return {"chunks_total": probe["chunks"], "chunks_fragment": len(frag),
            "chunks_new": n_new, "rows_compacted": n_rows}
