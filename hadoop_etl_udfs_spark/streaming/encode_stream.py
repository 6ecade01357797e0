"""Incremental (streaming) encode: watch a directory of page parquet files,
encode each micro-batch into the chunk sink, maintain lineage.

    q = start_encode_stream(spark, input_dir, out_dir, checkpoint_dir)
    q.processAllAvailable(); q.stop()

Semantics: the file source's checkpoint guarantees each input file is
processed once; if a micro-batch is replayed after a crash, the encode
kernel re-derives the same content-addressed chunk ids and the skip-set
drops already-committed chunks — the sink stays duplicate-free without a
transactional store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans import lineage
from ..sources.pages import PAGES_SCHEMA


def _start_append_stream(
    spark: SparkSession,
    schema: str,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    gate,
    **encode_kw,
) -> StreamingQuery:
    """The one encode-stream body: a parquet file stream whose every
    micro-batch passes ``gate`` and is appended with
    :func:`lineage.append_encoded` (a replayed batch skips its committed
    chunks), checkpointed, run with ``availableNow``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        lineage.append_encoded(gate(batch_df), out_dir, **encode_kw)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_encode_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    codec: str = "auto",
    salt_buckets: int = 8,
    max_files_per_trigger: int = 16,
    cluster_by: str | None = None,
    bloom_by: list[str] | None = None,
) -> StreamingQuery:
    return _start_append_stream(
        spark, PAGES_SCHEMA, input_dir, out_dir, checkpoint_dir,
        max_files_per_trigger, lambda batch: batch, codec=codec,
        salt_buckets=salt_buckets, cluster_by=cluster_by, bloom_by=bloom_by,
    )


DOCUMENTS_SCHEMA = "doc_id long, text string, lang string, source string"


def start_curated_encode_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    codec: str = "auto",
    max_files_per_trigger: int = 16,
    repetition_gate: bool = False,
) -> StreamingQuery:
    """Streaming CURATION: the stratified sample gate applied inside the
    incremental encode — only the training-mix sample of each arriving
    micro-batch is chunk-encoded (round 7).

    The gate needs ZERO state: membership is a pure function of doc_id
    (curation.stratified_sample_df's md5 hash gate), so replayed batches
    re-derive the same keep/drop decisions, corpus growth never resamples
    old docs, and — the property the test pins — the streaming sink over
    N waves decodes to EXACTLY the batch operator's sample of the union.
    ``repetition_gate=True`` (round 8) additionally drops docs whose
    Gopher ``repetition_flag`` fires — also stateless by construction,
    because the repetition signals are INTRA-document (a pure function of
    the doc's own text), so batch boundaries cannot change any verdict
    and the N-wave sink still equals the batch composition over the
    union. Curation that needs cross-batch state (near-dup resolution,
    cross-doc boilerplate, the corpus-trained LM filter) stays a batch
    job over the sink (jobs/curate_job.py); the gates are the part that
    belongs on the ingest path, because dropped docs cost no encode CPU
    and no sink bytes. Docs arrive in DOCUMENTS_SCHEMA; the encode
    shuffles on doc_id (table-agnostic partition_cols path)."""
    from ..operators.curation import stratified_sample_df
    from ..operators.textstats import repetition_signals_df

    def gate(batch_df: DataFrame) -> DataFrame:
        gated = stratified_sample_df(batch_df)
        if repetition_gate:
            flagged = (
                repetition_signals_df(gated)
                .filter(F.col("repetition_flag"))
                .select("doc_id")
            )
            gated = gated.join(flagged, "doc_id", "left_anti")
        return gated

    return _start_append_stream(
        spark, DOCUMENTS_SCHEMA, input_dir, out_dir, checkpoint_dir,
        max_files_per_trigger, gate, codec=codec, partition_cols=["doc_id"],
    )


def start_decode_stream(
    spark: SparkSession,
    sink_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str | None = None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """The decode-side stream: watch a chunk sink and emit decoded rows as
    new chunks commit — the downstream half of the encode stream above
    (continuous ingestion in, continuous decoded feed out).

    Unit of consumption = committed sink FILES; each encode task writes a
    chunk's column rows consecutively into one file, so every micro-batch
    carries whole chunks and decodes with the grouped path (which also
    dedupes any replayed chunk WITHIN its batch). The file-source checkpoint
    guarantees each sink file is consumed exactly once, so an appended
    (resume-style) sink streams out exactly once too.

    A COLUMN-PARTITIONED sink (``write_encoded(partition_by_column=True)``)
    breaks that premise — a chunk's column rows live in different files, a
    micro-batch boundary can split them, and decode_chunks would fill the
    missing columns with NULL (its schema-evolution behavior) and append
    silently-wrong rows FOREVER (exactly-once means no retry). Refuse it
    loudly; that layout decodes via the batch paths."""
    import glob as _glob
    import os as _os

    from ..operators.encode import ENCODED_SCHEMA, decode_chunks

    if _glob.glob(_os.path.join(lineage.chunks_path(sink_dir), "column=*")):
        raise ValueError(
            f"sink {sink_dir!r} is column-partitioned (column=*/ dirs): a "
            "micro-batch boundary could tear chunks across files and decode "
            "them as NULL-filled rows — stream-decode only the default "
            "colocated layout; use batch decode_chunks for this sink"
        )

    stream = (
        spark.readStream.schema(ENCODED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(lineage.chunks_path(sink_dir))
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        decode_chunks(batch_df, schema=schema).write.mode("append").parquet(
            out_dir
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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
    import json as _json
    import os as _os

    from ..sources.iceberg_lite import (
        SnapshotNotFoundError,
        iceberg_data_files,
        read_iceberg,
        read_iceberg_file_diff,
        read_iceberg_incremental,
        read_table_meta,
    )

    wm_path = _os.path.join(sink_dir, "_iceberg_watermark.json")
    last, seen_files = 0, None
    if _os.path.exists(wm_path):
        with open(wm_path) as f:
            wm = _json.load(f)
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
    out["chunks_skipped"] = lineage.append_encoded(
        diff, sink_dir, codec=codec, salt_buckets=salt_buckets,
        cluster_by=cluster_by,
        # non-pages tables (round 6): declare the co-location key so the
        # tick ingests ANY Iceberg table, not just the pages layout
        partition_cols=partition_cols,
    )
    out["rows"] = diff.count()
    _os.makedirs(sink_dir, exist_ok=True)
    # the watermark records the snapshot AND its live file list: the file
    # set is the expiry-proof recovery cursor (one path per data file —
    # same O(n_files) scale as the manifests themselves). Written
    # atomically: the list spans many write syscalls, and a tick killed
    # mid-write must not leave a torn JSON that bricks every later tick.
    from ..sources.iceberg_lite import _atomic_write

    files_cur, _ = iceberg_data_files(table_dir, current)
    _atomic_write(
        wm_path, _json.dumps({"snapshot_id": current, "files": files_cur})
    )
    return {**out, "noop": False}
