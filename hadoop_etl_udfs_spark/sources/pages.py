"""Deterministic synthetic Common-Crawl-style pages table.

Schema fixed by BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Generation is distributed (``spark.range`` -> ``mapInArrow``) and
counter-based: every value is a pure function of the row id via a splitmix64
mixer, so the table is bit-identical regardless of partitioning, core count,
or batch boundaries — the property the reference gets from committed golden
fixtures (hadoop-etl-common/src/test/resources/sample_07_rc_cdh_5_4_8) we get
from a seeded generator at any scale. Zipf-skewed hosts exercise the salting
path; near-sorted warc_ts exercises frame-of-reference; host-clustered lang
exercises RLE after the chunk sort.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from ..worker import drop_zip_finders

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

LANGS = np.array(["en", "de", "fr", "es", "ja", "zh", "ru", "pt"])
# language mix roughly Common-Crawl shaped (en-heavy)
_LANG_CUM = np.cumsum(np.array([0.45, 0.10, 0.08, 0.08, 0.07, 0.08, 0.07, 0.07]))

N_HOSTS = 4096
VOCAB_SIZE = 4096
_HTML_PREFIX = b"<!DOCTYPE html><html><head><meta charset=utf-8></head><body><p>"
_HTML_SUFFIX = b"</p></body></html>"


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 mixer."""
    z = x.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) % 2**64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(x: np.ndarray, salt: int) -> np.ndarray:
    return _mix(x, salt).astype(np.float64) / float(2**64)


from functools import lru_cache


@lru_cache(maxsize=4)
def _vocab(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(lengths, data) of VOCAB_SIZE deterministic pseudo-words."""
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(2, 10, size=VOCAB_SIZE)
    total = int(lens.sum())
    data = letters[rng.integers(0, 26, size=total)]
    return lens.astype(np.int64), data


@lru_cache(maxsize=4)
def _host_names(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed + 1)
    tlds = np.array(["com", "org", "net", "de", "jp", "io"])
    return np.array(
        [
            f"www{'' if i % 3 else '2'}.site-{rng.integers(0, 10**6):06d}.{tlds[i % len(tlds)]}"
            for i in range(N_HOSTS)
        ]
    )


def _concat_tokens(
    token_codes: np.ndarray,
    words_per_row: np.ndarray,
    vocab_lengths: np.ndarray,
    vocab_data: np.ndarray,
) -> pa.Array:
    """Rows of word tokens -> space-joined utf8 strings, fully vectorized."""
    from ..codecs.dictenc import gather_bytes
    from ..codecs.varbytes import varbytes_to_arrow

    # interleave a space token after every word except row-final ones
    n_tok = len(token_codes)
    space_code = len(vocab_lengths)
    lens_ext = np.concatenate((vocab_lengths, [1]))
    data_ext = np.concatenate((vocab_data, np.frombuffer(b" ", dtype=np.uint8)))
    codes2 = np.empty(n_tok * 2, dtype=np.int64)
    codes2[0::2] = token_codes
    codes2[1::2] = space_code
    # drop the trailing space of each row
    row_end = np.cumsum(words_per_row) * 2 - 1
    keep = np.ones(n_tok * 2, dtype=bool)
    keep[row_end] = False
    codes2 = codes2[keep]
    tok_lengths, data = gather_bytes(codes2, lens_ext, data_ext)
    # per-row byte lengths: words + separating spaces
    word_lens = vocab_lengths[token_codes]
    row_id = np.repeat(np.arange(len(words_per_row)), words_per_row)
    row_lengths = np.bincount(row_id, weights=word_lens).astype(np.int64) + (
        words_per_row - 1
    )
    return varbytes_to_arrow(row_lengths, data, pa.utf8())


def _gen_batch(ids: np.ndarray, seed: int) -> pa.RecordBatch:
    n = len(ids)
    vocab_lengths, vocab_data = _vocab(seed)
    hosts = _host_names(seed)

    # zipf-skewed host assignment: exponential inverse-CDF over N_HOSTS
    u = _u01(ids, 1)
    host_idx = (np.power(float(N_HOSTS), u) - 1.0).astype(np.int64)
    host_idx = np.minimum(host_idx, N_HOSTS - 1)

    # lang: clustered by host (90%), global mix otherwise
    host_lang = np.searchsorted(_LANG_CUM, _u01(_mix(host_idx.astype(np.uint64), 7), 2))
    rand_lang = np.searchsorted(_LANG_CUM, _u01(ids, 3))
    lang_idx = np.where(_u01(ids, 4) < 0.9, host_lang, rand_lang)
    lang_idx = np.minimum(lang_idx, len(LANGS) - 1)
    lang = pa.array(LANGS[lang_idx], type=pa.utf8())

    # near-sorted crawl timestamps: epoch-µs, avg 1 ms apart, ±10 s jitter
    base = np.int64(1_700_000_000_000_000)
    jitter = (_mix(ids, 5) % np.uint64(20_000_000)).astype(np.int64) - 10_000_000
    ts_us = base + ids.astype(np.int64) * 1000 + jitter
    warc_ts = pa.array(ts_us, type=pa.int64()).cast(pa.timestamp("us", tz="UTC"))

    # url: https://<host>/<hex dir>/p<id>.html — pandas str concat (C-speed)
    import pandas as pd

    h = pd.Series(hosts[host_idx])
    d1 = pd.Series((_mix(ids, 6) % np.uint64(0xFFFF))).map("{:04x}".format)
    url = pa.array(
        ("https://" + h + "/" + d1 + "/p" + pd.Series(ids).astype(str) + ".html"),
        type=pa.utf8(),
    )

    # text: 20..220 zipf-ish vocabulary words per row
    words_per_row = (20 + (_mix(ids, 8) % np.uint64(200))).astype(np.int64)
    tok_row = np.repeat(ids, words_per_row)
    # word position *within its row* — keeps generation independent of how
    # rows are batched/partitioned
    row_tok_start = np.concatenate(([0], np.cumsum(words_per_row)[:-1]))
    tok_pos = (
        np.arange(len(tok_row), dtype=np.uint64)
        - np.repeat(row_tok_start, words_per_row).astype(np.uint64)
    )
    # zipf over vocab: square the uniform -> low ids much more frequent
    tu = _u01(tok_row * np.uint64(1_000_003) + tok_pos, 9)
    token_codes = (tu * tu * VOCAB_SIZE).astype(np.int64)
    text = _concat_tokens(token_codes, words_per_row, vocab_lengths, vocab_data)

    # html: deterministic wrapper around the text bytes (opaque binary column)
    html = pc.binary_join_element_wise(
        pa.scalar(_HTML_PREFIX, type=pa.binary()),
        text.cast(pa.binary()),
        pa.scalar(_HTML_SUFFIX, type=pa.binary()),
        pa.scalar(b"", type=pa.binary()),
    )

    return pa.RecordBatch.from_arrays(
        [url, warc_ts, html, text, lang],
        names=["url", "warc_ts", "html", "text", "lang"],
    )


def synthesize_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic pages table of ``n_docs`` rows."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        for batch in batches:
            ids = batch.column(0).to_numpy().astype(np.uint64)
            yield _gen_batch(ids, seed)

    rng_df = spark.range(0, n_docs, numPartitions=num_partitions)
    return rng_df.mapInArrow(gen, PAGES_SCHEMA)


def skew_hosts(
    pages: DataFrame, n_hosts: int = 400, exponent: int = 6
) -> DataFrame:
    """Rewrite url hosts into a deterministic Zipf-like distribution — the
    adversarial input for skew-salting evidence. Host id is
    ``floor(u^exponent * n_hosts)`` of a per-url uniform draw, so the head
    host holds ~``(1/n_hosts)^(1/exponent)`` of ALL rows (~37% with the
    defaults) and the tail decays fast — the crawl-corpus shape (one giant
    domain, many small ones) that breaks naive hash partitioning. Paths are
    preserved, so urls stay unique."""
    from pyspark.sql import functions as F

    u = F.pmod(F.xxhash64("url"), F.lit(1_000_000)) / 1_000_000.0
    hid = F.floor(F.pow(u, F.lit(exponent)) * n_hosts).cast("int")
    path = F.regexp_replace("url", r"^[a-z]+://[^/]*", "")
    return pages.withColumn(
        "url",
        F.concat(F.lit("https://h"), hid, F.lit(".skew.example"), path),
    )


def pages_input_bytes(df: DataFrame) -> int:
    """Logical input size: sum of column byte footprints (bench numerator)."""
    from pyspark.sql import functions as F

    row = df.select(
        (
            F.sum(F.octet_length("url"))
            + F.lit(8) * F.count("*")
            + F.sum(F.octet_length("html"))
            + F.sum(F.octet_length("text"))
            + F.sum(F.octet_length("lang"))
        ).alias("b")
    ).collect()[0]
    return int(row["b"])
