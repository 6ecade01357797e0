"""The encode/decode pipeline — the engine's flagship operator.

Replaces the reference's EXPORT path (row loop at
hadoop-etl-common/src/main/java/com/exasol/hadoop/HdfsSerDeExportService.java:82-87
driving per-value writes through parquet/src/main/java/com/exasol/hadoop/parquet/Tuple.java:83-161)
and its IMPORT decode walk (HdfsSerDeImportService.java:173-200) with a
columnar plan:

    pages --repartition(host, salt)--> sortWithinPartitions(lang, url)
          --mapInArrow(encode)--> encoded column-chunks (one row per column)
          --groupBy(chunk_id).applyInArrow(decode)--> bit-identical pages

- Skew: the reference distributes work round-robin per *file*
  (HCatTableFiles.java:128 ``i % parallelism``); we shuffle by url-host with
  an explicit salt so one hot host spreads over ``salt_buckets`` partitions.
- Distribution: the reference's ``GROUP BY import_partition``
  (ImportHCatTable.java:104-109) becomes a hash repartition.
- The encoded-chunk row (one per column-chunk) is the analog of the
  reference's file-manifest row (HCatTableFiles.java:116-134) — the unit of
  lineage, resume, and metrics.
- Chunk ids are content hashes of ALL the chunk's column values (not
  wall-clock UUIDs like ExportIntoHiveTable.java:148-156), so lineage/resume
  is deterministic AND same-id chunk rows are value-identical by
  construction — the readers' duplicate-drop depends on that.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..codecs.api import canonical_column, chunk_id, decode_array, encode_array
from ..worker import drop_zip_finders

# The chunk sink's schema, written once. The encode kernel builds its
# batches against this Arrow form; ENCODED_SCHEMA, its Spark form, is
# derived in pure Python (no SparkContext, so workers can import it) and is
# the declared schema every sink read uses (plans.lineage.read_encoded).
_ENCODED_ARROW = pa.schema(
    [
        ("chunk_id", pa.int64()),
        ("column", pa.string()),
        ("col_idx", pa.int32()),
        ("n_rows", pa.int64()),
        ("codec", pa.string()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        # exact logical value bytes, computed IN the kernel from the values
        # (codecs/api.py encode_array) — never inferred from buffer sizes,
        # so it is invariant across Arrow layouts/writer sessions
        ("data_bytes", pa.int64()),
        ("crc32", pa.int64()),
        ("meta", pa.string()),
        ("stats", pa.string()),
        ("cluster_lo", pa.int64()),
        ("cluster_hi", pa.int64()),
        ("payload", pa.binary()),
    ]
)
ENCODED_SCHEMA = from_arrow_schema(_ENCODED_ARROW)

_STATS_MAX_STR = 256  # skip string stats beyond this (a zone map, not data)


def _col_stats(arr: pa.Array) -> str | None:
    """Per-chunk zone-map stats: JSON {"min": x, "max": x} or None.

    Ints/dates/timestamps store numeric min/max (timestamps as epoch in the
    column's own unit); strings store the values themselves unless oversized
    (truncating a max would make it an UNDER-bound — unsafe for pruning, so
    oversized values yield no stats instead). Binary/decimal: no stats."""
    import json as _json

    import pyarrow.compute as pc

    t = arr.type
    try:
        if pa.types.is_timestamp(t) or pa.types.is_date(t):
            target = pa.int64() if pa.types.is_timestamp(t) else pa.int32()
            mm = pc.min_max(arr.cast(target))
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            # cheap length precheck first: big-text columns would pay a full
            # byte-comparison min/max scan only to exceed the cap every time
            max_len = pc.max(pc.binary_length(arr)).as_py()
            if max_len is None or max_len > _STATS_MAX_STR:
                return None
            mm = pc.min_max(arr)
        elif pa.types.is_integer(t):
            mm = pc.min_max(arr)
        else:
            return None
    except pa.ArrowNotImplementedError:
        return None
    mn, mx = mm["min"].as_py(), mm["max"].as_py()
    if mn is None or mx is None:
        return None
    return _json.dumps({"min": mn, "max": mx}, separators=(",", ":"))


def _cluster_range(arr: pa.Array) -> tuple[int, int] | None:
    """Chunk [min, max] of a numeric-domain column as int64 (timestamps as
    epoch in the column's unit) — the value pair stamped on EVERY row of the
    chunk when the sink declares a cluster column, so range predicates on
    that column push into the parquet scan as ordinary filters (no
    driver-side keep-set). None for non-numeric domains or all-null chunks."""
    import pyarrow.compute as pc

    t = arr.type
    try:
        if pa.types.is_timestamp(t):
            mm = pc.min_max(arr.cast(pa.int64()))
        elif pa.types.is_date(t):
            mm = pc.min_max(arr.cast(pa.int32()))
        elif pa.types.is_integer(t) or pa.types.is_boolean(t):
            mm = pc.min_max(arr.cast(pa.int64()))
        else:
            return None
    except pa.ArrowNotImplementedError:
        return None
    mn, mx = mm["min"].as_py(), mm["max"].as_py()
    if mn is None or mx is None:
        return None
    return int(mn), int(mx)


class IncompleteChunkError(ValueError):
    """A chunk's column rows did not reunite inside one partition — the sink
    was read with file splitting (wrong read settings for the colocated
    decode path). Recoverable: fall back to :func:`decode_chunks`."""


def salted_partitioning(
    df: DataFrame, salt_buckets: int, num_partitions: int | None = None
) -> DataFrame:
    """Shuffle by (url host, salt) then sort within partitions for run length.

    The host key co-locates pages that share dictionaries; the salt bounds
    the size of any one host's partition (Zipf head). The sort (lang, url)
    maximizes RLE runs without a global shuffle.

    The partition count is EXPLICIT: with a bare ``repartition(cols)`` AQE
    coalesces toward 64 MB partitions, which serializes the (CPU-heavy)
    encode stage onto a handful of tasks — encode wants
    cores << partitions << chunks, independent of shuffle-size heuristics.
    """
    from ..plans.salting import HOST_RE

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    host = F.regexp_extract("url", HOST_RE, 1)
    salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
    return df.repartition(num_partitions, host, salt).sortWithinPartitions(
        "lang", "url"
    )


def check_encodable(
    schema, cluster_by: str | None, bloom_set: frozenset
) -> None:
    """Write-time checks of an encode input's Spark schema, run on the
    driver before any plan is built: every column has a chunk codec kind
    (codecs/api.py), and the ``bloom_by``/``cluster_by`` columns exist with
    an indexable type. Misspelled or unsupported columns fail loud here,
    not inside a worker once a job runs — silently stamping NULLs would
    make every later pruned read scan the whole sink with no error."""
    from ..codecs.api import _kind
    from ..plans.bloom import bloom_domain

    arrow = dict(_expected_arrow_fields(schema))
    for name, typ in arrow.items():
        try:
            _kind(typ)
        except ValueError as e:
            raise ValueError(
                f"{e} (column {name!r}) — the chunk codecs cannot encode it"
            ) from None
    missing = sorted(bloom_set - set(arrow))
    if missing:
        raise ValueError(
            f"bloom_by columns {missing} not in input columns "
            f"{schema.names} — a misspelled key column must fail loud at "
            "write time, not produce an unprunable sink"
        )
    for name in sorted(bloom_set):
        if bloom_domain(arrow[name]) is None:
            raise TypeError(
                f"bloom_by column {name!r} has type {arrow[name]} — bloom "
                "filters index exact-match key domains "
                "(string/int/timestamp/date) only"
            )
    if cluster_by is not None:
        if cluster_by not in arrow:
            raise ValueError(
                f"cluster_by column {cluster_by!r} not in input columns "
                f"{schema.names} — a misspelled cluster column must fail "
                "loud at write time, not produce an unprunable sink"
            )
        cb_type = schema[cluster_by].dataType.typeName()
        if cb_type not in (
            "timestamp", "timestamp_ntz", "date", "long", "integer",
            "short", "byte", "boolean",
        ):
            raise TypeError(
                f"cluster_by column {cluster_by!r} has non-numeric-domain "
                f"type {cb_type}; cluster stamps need an int64-mappable "
                "domain (timestamp/date/int/boolean)"
            )


def encode_chunk(
    batch: pa.RecordBatch,
    codec: str,
    global_dicts: dict,
    cluster_by: str | None,
    bloom_set: frozenset,
    skip: frozenset = frozenset(),
) -> pa.RecordBatch | None:
    """One chunk's rows -> its encoded column-chunk rows (one per column,
    in the sink's Arrow form), or None when its content-addressed id is in
    ``skip``. The one definition of a chunk's id, CRC, zone map, bloom and
    cluster stamp: encode_pages' kernel and the takedown's purge kernel
    (plans.lineage.delete_from_sink) both call it."""
    names = batch.schema.names
    cols = [canonical_column(c) for c in batch.columns]
    cid = chunk_id(names, cols)
    if cid in skip:
        return None
    cl = None
    if cluster_by is not None:
        ci = batch.schema.get_field_index(cluster_by)
        if ci >= 0:
            cl = _cluster_range(batch.column(ci))
    cl_lo, cl_hi = cl if cl is not None else (None, None)
    rows = []
    for i, (name, col) in enumerate(zip(names, cols)):
        try:
            enc = encode_array(
                col, codec=codec, global_dict=global_dicts.get(name),
                cache_key=name,
            )
        except KeyError:
            # value missing from the global dictionary (e.g. resumed job
            # over drifted input): fall back to chunk-local codecs
            enc = encode_array(col, codec=codec)
        st = _col_stats(batch.column(i))
        if name in bloom_set:
            from ..plans.bloom import bloom_build, merge_bloom_into_stats

            st = merge_bloom_into_stats(st, bloom_build(batch.column(i)))
        rows.append((
            cid, name, i, batch.num_rows, enc.codec, enc.bytes_in,
            enc.bytes_out, enc.data_bytes, enc.crc32, enc.meta, st,
            cl_lo, cl_hi, enc.payload,
        ))
    return pa.RecordBatch.from_arrays(
        [pa.array(v, f.type) for v, f in zip(zip(*rows), _ENCODED_ARROW)],
        schema=_ENCODED_ARROW,
    )


def encode_pages(
    df: DataFrame,
    codec: str = "auto",
    salt_buckets: int = 8,
    skip_chunk_ids: set[int] | frozenset[int] | None = None,
    shuffle: bool = True,
    global_dicts: dict | None = None,
    cluster_by: str | None = None,
    partition_cols: list[str] | None = None,
    bloom_by: list[str] | None = None,
) -> DataFrame:
    """pages DataFrame -> encoded column-chunk DataFrame.

    One output row per (chunk, column). ``skip_chunk_ids`` implements
    resume-from-failure: chunks whose content-addressed id (a hash of ALL
    column values) is already in the lineage manifest are skipped (see
    plans/lineage.py). Chunking is deterministic given the same input,
    partitioning config, and Arrow batch size.

    ``cluster_by`` declares a sink cluster column (numeric domain —
    timestamp/date/int): the chunk's [min, max] of that column is stamped
    as ``cluster_lo``/``cluster_hi`` on EVERY row of the chunk, so range
    predicates on it later prune chunks inside the parquet scan itself
    (plans.lineage.decode_chunks_where_clustered) — no driver-side keep-set
    collect, and hard row-group pruning when the layout is range-clustered.
    Without it the two columns are NULL and the JSON zone-map path
    (decode_chunks_where) still applies.

    A misspelled or non-numeric ``cluster_by`` raises here, at write time —
    silently stamping NULLs would make every later clustered decode scan the
    whole sink with no error (all-null *chunks* still stamp NULL, which
    readers conservatively keep).

    ``bloom_by`` declares point-lookup key columns (string/int/timestamp/
    date): each chunk stamps a Bloom filter over its values of those
    columns inside the ``stats`` JSON (plans/bloom.py — no sink schema
    change), so equality lookups (plans.lineage.decode_chunks_where_key_in)
    and takedowns (delete_from_sink) decode only chunks that can contain a
    requested key. Misspelled or non-indexable columns raise here, at
    write time, for the same reason cluster_by does.

    Every one of these checks runs on the driver (:func:`check_encodable`)
    before the plan is built, and so does the column-type check: a column
    the chunk codecs cannot encode (a struct, a map) raises ValueError at
    call time, not inside the write job.
    """
    bloom_set = frozenset(bloom_by or ())
    check_encodable(df.schema, cluster_by, bloom_set)
    if shuffle:
        if partition_cols:
            # table-agnostic layout (round 6): the default salted
            # partitioning keys on the PAGES columns (url host, lang); any
            # other table declares its own co-location key here. Same
            # contract: explicit partition count (AQE coalescing would
            # serialize the CPU stage), salt bounds one key's skew, the
            # within-partition sort makes chunking deterministic for
            # resume's content-addressed skip-set.
            missing = [c for c in partition_cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"partition_cols {missing} not in input columns "
                    f"{df.columns}"
                )
            if salt_buckets == "adaptive":
                raise ValueError(
                    "salt_buckets='adaptive' keys on the pages url host; "
                    "with explicit partition_cols pass an int fan-out"
                )
            n = df.sparkSession.sparkContext.defaultParallelism * 2
            # salt and sort tiebreak come from a FULL-ROW hash, not the
            # partition columns: a key-derived salt is constant within a
            # hot key (no skew split — the salt would be a no-op), and a
            # key-only sort leaves tie order scheduler-dependent whenever
            # the key is non-unique, which would re-chunk on identical-job
            # restart and break resume's content-addressed skip
            row_h = F.xxhash64(*[F.col(c) for c in df.columns])
            salt = F.pmod(row_h, F.lit(salt_buckets))
            df = df.repartition(n, *partition_cols, salt).sortWithinPartitions(
                *partition_cols, row_h
            )
        elif salt_buckets == "adaptive":
            from ..plans.salting import salted_partitioning_adaptive

            df = salted_partitioning_adaptive(df)
        else:
            df = salted_partitioning(df, salt_buckets)
    skip = frozenset(skip_chunk_ids or ())
    sc = df.sparkSession.sparkContext
    skip_bc = sc.broadcast(skip)
    gd_bc = sc.broadcast(global_dicts or {})

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        done = skip_bc.value
        gds = gd_bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            out = encode_chunk(batch, codec, gds, cluster_by, bloom_set, done)
            if out is not None:
                yield out

    return df.mapInArrow(encode, ENCODED_SCHEMA)


def subset_schema(columns, full_schema: str | None = None) -> str:
    """DDL for a column subset, kept in the FULL schema's field order —
    decode emits columns sorted by col_idx, so the output schema must be the
    original order filtered, regardless of the order ``columns`` came in.
    Parsed, never split on commas: ``decimal(10,2)`` and ``struct<x:int,
    y:int>`` carry commas of their own."""
    from pyspark.sql.types import StructType

    from ..sources.pages import PAGES_SCHEMA

    fields = StructType.fromDDL(full_schema or PAGES_SCHEMA).fields
    want = set(columns)
    missing = want - {f.name for f in fields}
    if missing:
        raise ValueError(f"columns not in schema: {sorted(missing)}")
    return StructType([f for f in fields if f.name in want]).toDDL()


def _expected_arrow_fields(ddl_or_struct) -> list[tuple[str, pa.DataType]]:
    """Ordered (name, arrow type) pairs the Python UDF verifier expects for
    the decode output schema — the anchor for two portability behaviors:

    - **timezone alignment**: chunk meta records the tz the WRITER
      session's Arrow batches carried (e.g. ``Etc/UTC`` under a bare
      spark-submit session); the grouped-UDF verifier always expects
      pyspark's canonical ``tz=UTC`` (``to_arrow_type(timestamp_utc=True)``).
      The stored values are absolute epoch-µs either way, so aligning is a
      metadata-only cast.
    - **schema evolution on the engine's own sink**: decode emits exactly
      these fields — requested columns missing from an old sink come back
      all-NULL (the reference's pre-evolution-file semantics,
      tests/test_formats.py evolution test, applied to the chunk sink),
      and sink columns not requested are skipped without decoding.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = (
        ddl_or_struct
        if isinstance(ddl_or_struct, StructType)
        else StructType.fromDDL(ddl_or_struct)
    )
    return [(f.name, f.type) for f in to_arrow_schema(st)]


def _type_align(arr: pa.Array, want: pa.DataType | None) -> pa.Array:
    if want is not None and arr.type != want:
        return arr.cast(want)
    return arr


def _assemble_chunk(
    cid: int, n_rows: int, parts, exp_fields, gds: dict
) -> list[pa.Array]:
    """One chunk's columns in the requested schema — the assembly both
    decode kernels share. ``parts`` yields the chunk's (column, meta,
    payload scalar) rows. Requested columns the chunk lacks come back
    all-NULL, and decoded ones are cast to the expected Arrow types (see
    :func:`_expected_arrow_fields`)."""
    want = dict(exp_fields)
    got: dict[str, pa.Array] = {}
    sink_cols = []
    for name, meta, payload in parts:
        sink_cols.append(name)
        if name in got or name not in want:
            # duplicated sink (resume over drifted input appended the
            # chunk twice — copies are content-identical by the chunk-id
            # contract: decode the first, drop the rest), or a sink
            # column the output schema doesn't request (pay no decode)
            continue
        got[name] = _type_align(
            decode_array(payload.as_py(), meta, global_dict=gds.get(name)),
            want[name],
        )
    if sink_cols and not got:
        # zero overlap between the requested schema and this chunk's
        # columns: most likely a misspelled schema — an all-NULL result
        # would be the silent-wrong-answer failure mode. (On a
        # mixed-version sink, requesting ONLY post-evolution columns
        # also lands here for pre-evolution chunks: include an anchor
        # column that exists in every chunk, e.g. the key.) Partial
        # overlap is treated as evolution and NULL-filled — a misspelled
        # name ALONGSIDE correct ones is indistinguishable from an
        # evolved column by construction.
        raise ValueError(
            f"none of the requested output columns {sorted(want)} exist in "
            f"chunk {cid} (sink columns: {sorted(set(sink_cols))}) — "
            "misspelled schema, or a pre-evolution chunk asked for only "
            "post-evolution columns (include an anchor column)"
        )
    return [got[n] if n in got else pa.nulls(n_rows, ty) for n, ty in exp_fields]


def decode_chunk_group(
    table: pa.Table, exp_fields, gds: dict
) -> list[pa.Array]:
    """One chunk's sink rows (a ``groupBy("chunk_id")`` group) -> its
    columns in the requested schema (:func:`_assemble_chunk`)."""
    t = table.sort_by("col_idx")
    cid, n_rows = (
        (t.column("chunk_id")[0].as_py(), t.column("n_rows")[0].as_py())
        if t.num_rows else (None, 0)
    )
    parts = zip(
        t.column("column").to_pylist(),
        t.column("meta").to_pylist(),
        t.column("payload"),
    )
    return _assemble_chunk(cid, n_rows, parts, exp_fields, gds)


def decode_chunks(
    enc: DataFrame, schema: str | None = None, global_dicts: dict | None = None
) -> DataFrame:
    """encoded column-chunk DataFrame -> original columns, bit-identical.

    Grouped by chunk_id so a chunk's column rows reunite wherever they are
    (survives parquet round trips and splits); Arrow-native the whole way
    (applyInArrow, Spark >= 4.0). Decodes sinks written by sessions with a
    different timezone, fills schema-evolved columns absent from the sink
    with NULLs, and skips sink columns the schema doesn't request (see
    :func:`_expected_arrow_fields`).
    """
    from ..sources.pages import PAGES_SCHEMA

    out_schema = schema or PAGES_SCHEMA
    gd_bc = enc.sparkSession.sparkContext.broadcast(global_dicts or {})
    exp_fields = _expected_arrow_fields(out_schema)
    exp_names = [n for n, _ in exp_fields]

    def decode(table: pa.Table) -> pa.Table:
        drop_zip_finders()
        return pa.Table.from_arrays(
            decode_chunk_group(table, exp_fields, gd_bc.value),
            names=exp_names,
        )

    return enc.groupBy("chunk_id").applyInArrow(decode, out_schema)


def decode_chunks_colocated(
    enc: DataFrame,
    schema: str | None = None,
    n_columns: int = 5,
    global_dicts: dict | None = None,
) -> DataFrame:
    """Shuffle-free decode for data laid out by our own sink.

    The encode task writes a chunk's column rows consecutively, so as long as
    no parquet file is split mid-chunk (read the sink with
    ``spark.sql.files.maxPartitionBytes`` large enough — see
    plans.lineage.read_encoded_colocated), every chunk reunites inside one
    partition iterator; rows are carried across Arrow batch boundaries.
    Raises :class:`IncompleteChunkError` if a chunk arrives incomplete (wrong
    read settings) — fall back to :func:`decode_chunks` then.

    Duplicated sinks (resume over drifted input appended a chunk twice):
    same-partition copies are dropped via a seen-set; copies in *different*
    files cannot be deduped without a shuffle — check
    ``plans.lineage.sink_has_duplicates`` first and use :func:`decode_chunks`
    (which dedupes inside the group) when it returns True, as jobs/decode_job
    does.

    ``n_columns`` is the SINK's column count (group completion is counted
    against it) and must match the sink's true uniform arity — a mismatch
    in either direction raises :class:`IncompleteChunkError` rather than
    silently dropping or NULLing columns. The output follows ``schema``,
    with evolution semantics as in :func:`decode_chunks` (missing columns
    NULL, extra sink columns skipped without decoding). Mixed-ARITY sinks
    (chunks appended before and after a schema evolution) have no single
    n_columns: decode those with :func:`decode_chunks`.
    """
    from ..sources.pages import PAGES_SCHEMA

    out_schema = schema or PAGES_SCHEMA
    gd_bc = enc.sparkSession.sparkContext.broadcast(global_dicts or {})
    exp_fields = _expected_arrow_fields(out_schema)
    exp_names = [n for n, _ in exp_fields]

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        gds = gd_bc.value
        pending: dict[int, list] = {}
        seen: set[int] = set()
        for batch in batches:
            cid_col = batch.column(batch.schema.get_field_index("chunk_id"))
            idx_col = batch.column(batch.schema.get_field_index("col_idx"))
            name_col = batch.column(batch.schema.get_field_index("column"))
            meta_col = batch.column(batch.schema.get_field_index("meta"))
            nrows_col = batch.column(batch.schema.get_field_index("n_rows"))
            payload_col = batch.column(batch.schema.get_field_index("payload"))
            for row in range(batch.num_rows):
                cid = cid_col[row].as_py()
                if cid in seen:
                    # a duplicate COPY re-sends col_idx < n_columns; a row
                    # with col_idx >= n_columns means the sink's chunks have
                    # MORE columns than n_columns claims — emitting already
                    # happened, so dropping it would silently NULL a column
                    # that exists (evolved sink decoded with a stale arity)
                    if idx_col[row].as_py() >= n_columns:
                        raise IncompleteChunkError(
                            f"chunk {cid} arrived incomplete: sink chunks "
                            f"carry more than n_columns={n_columns} columns "
                            "— pass the sink's true column count, or use "
                            "decode_chunks()"
                        )
                    continue  # same-partition duplicate copy
                group = pending.setdefault(cid, [])
                group.append(
                    (
                        idx_col[row].as_py(),
                        name_col[row].as_py(),
                        meta_col[row].as_py(),
                        payload_col[row],
                        nrows_col[row].as_py(),
                    )
                )
                if len(group) == n_columns:
                    if {idx for (idx, *_) in group} != set(range(n_columns)):
                        # duplicated col_idx rows (torn partial copy before
                        # a full copy) or col_idx beyond n_columns (sink
                        # arity larger than claimed) — emitting would
                        # mis-assemble or silently drop columns
                        raise IncompleteChunkError(
                            f"chunk {cid} arrived incomplete: col_idx set "
                            f"!= 0..{n_columns - 1} (torn partial copy, or "
                            "n_columns smaller than the sink's arity) — "
                            "use decode_chunks()"
                        )
                    yield pa.RecordBatch.from_arrays(
                        _assemble_chunk(
                            cid, group[0][4],
                            ((nm, m, p) for (_, nm, m, p, _) in group),
                            exp_fields, gds,
                        ),
                        names=exp_names,
                    )
                    del pending[cid]
                    seen.add(cid)
        if pending:
            raise IncompleteChunkError(
                f"{len(pending)} chunk(s) arrived incomplete — the sink was "
                "read with file splitting; use decode_chunks() or read via "
                "plans.lineage.read_encoded_colocated()"
            )

    return enc.mapInArrow(decode, out_schema)


def codec_metrics(enc: DataFrame) -> DataFrame:
    """Rollup: the reference's only aggregate is a rowsExported count
    (HdfsSerDeExportService.java:90); ours is a real hash aggregate over
    lineage — bytes in/out and compression ratio per column and codec."""
    return (
        enc.groupBy("column", "codec")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
        )
        .withColumn("ratio", F.round(F.col("bytes_in") / F.col("bytes_out"), 2))
        .orderBy("column", "codec")
    )


def verify_roundtrip(
    pages: DataFrame, enc: DataFrame, global_dicts: dict | None = None
) -> dict:
    """North-rule gate: byte-identical text per url, all columns identical.

    Compares via an anti-join on the full row fingerprint — scales to any
    size (no collect)."""
    dec = decode_chunks(enc, global_dicts=global_dicts)

    def fingerprint(df: DataFrame) -> DataFrame:
        return df.select(
            "url",
            F.xxhash64("url", "warc_ts", "html", "text", "lang").alias("fp"),
        )

    orig_fp = fingerprint(pages)
    dec_fp = fingerprint(dec)
    n_orig = orig_fp.count()
    n_dec = dec_fp.count()
    missing = orig_fp.join(dec_fp, ["url", "fp"], "left_anti").count()
    return {
        "rows_in": n_orig,
        "rows_decoded": n_dec,
        "mismatched_or_missing": missing,
        "ok": n_orig == n_dec and missing == 0,
    }
