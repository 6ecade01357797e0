"""Multimodal columns: opaque binary payloads with typed metadata.

Images/audio/video are ``binary`` columns; decode / feature-extraction run as
Arrow-batched kernels over ``mapInPandas``. No media library is a
dependency, so the decode is a deterministic fake (byte histogram + entropy,
raw byte windows) — the Spark-side plumbing (schema, batching, UDF signature,
partition shape) is real and tested.

The reference degrades binary to hex strings
(HdfsSerDeImportService.java:330-331); here binary stays binary end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..worker import drop_zip_finders

FEATURE_SCHEMA = (
    "url string, n_bytes long, magic string, entropy double, "
    "mean_byte double, feature array<float>"
)


def extract_features(pages: DataFrame, feature_dim: int = 16) -> DataFrame:
    """Binary -> feature vector via an Arrow-batched mapInPandas kernel.

    The fake featurizer (byte histogram folded to ``feature_dim`` + entropy)
    is deterministic, so tests pin exact values; swapping in a real decoder
    changes only the inner function, not the Spark plumbing. The histogram /
    entropy / mean run as ONE bincount over the whole batch keyed on
    row_id*256+byte — no per-row numpy calls; only the unavoidable
    per-blob boundary work (len, join, magic probe) touches rows."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # null payloads become empty blobs (n_bytes 0, entropy 0)
            payloads = [p if p is not None else b"" for p in pdf["html"]]
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
            blob = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            # one histogram pass for the whole batch: bincount keyed on
            # row_id*256 + byte, then reshape to (rows, 256)
            row_id = np.repeat(np.arange(n, dtype=np.int64), lens)
            hist = np.bincount(
                row_id * 256 + blob, minlength=n * 256
            ).reshape(n, 256).astype(np.float64)
            denom = np.maximum(lens, 1).astype(np.float64)
            p = hist / denom[:, None]
            plogp = np.where(p > 0, p * np.log2(np.where(p > 0, p, 1.0)), 0.0)
            entropy = np.round(-plogp.sum(axis=1), 6)
            byte_sum = (hist * np.arange(256.0)).sum(axis=1)
            mean_byte = np.round(np.where(lens > 0, byte_sum / denom, 0.0), 6)
            folded = hist.reshape(n, feature_dim, -1).sum(axis=2)
            feat = folded / np.maximum(1.0, folded.sum(axis=1))[:, None]
            magic = [
                "html" if p[:9] == b"<!DOCTYPE" else "unknown" for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "n_bytes": lens,
                    "magic": magic,
                    "entropy": entropy,
                    "mean_byte": mean_byte,
                    "feature": list(feat.astype(np.float32)),
                }
            )

    return pages.select("url", "html").mapInPandas(kernel, FEATURE_SCHEMA)


def frame_sample(
    pages: DataFrame,
    media_col: str = "html",
    key_col: str = "url",
    n_frames: int = 4,
    frame_bytes: int = 64,
) -> DataFrame:
    """Frame-sampling plumbing for video-ish binary columns: n evenly spaced
    fixed-width byte windows per blob, one output row per (key, frame_no).

    Offset math (shared with the DuckDB oracle): blobs of length
    L <= frame_bytes yield ONE frame at offset 0; otherwise frame i sits at
    ``(i * (L - frame_bytes)) // (n_frames - 1)`` — first frame at the head,
    last flush with the tail. No container/codec frame grabber is a
    dependency, so the fake "frame" is the raw byte window, which preserves
    the exact batch shape (rows × frames), the offset arithmetic, and the
    output schema a real one would have.

    Offsets/lengths and the window gather are ONE cumsum-scatter per Arrow
    batch (same pattern as ``resize_grayscale``) — no per-blob arithmetic;
    the only per-frame Python left is slicing the flat gathered buffer into
    ``bytes`` objects for the output column (a real codec call would be
    per-frame anyway)."""
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    schema = (
        f"{key_col} string, frame_no int, frame_off long, "
        "frame_len int, frame binary"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            payloads = [p if p is not None else b"" for p in pdf[media_col]]
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
            blob = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            blob_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            # frames per row: 1 when the blob fits in one window, else n_frames
            fpr = np.where(
                (lens <= frame_bytes) | (n_frames == 1), 1, n_frames
            ).astype(np.int64)
            tot = int(fpr.sum())
            row_id = np.repeat(np.arange(n, dtype=np.int64), fpr)
            fstarts = np.concatenate(([0], np.cumsum(fpr)[:-1]))
            frame_no = np.arange(tot, dtype=np.int64) - np.repeat(fstarts, fpr)
            span = lens[row_id] - frame_bytes           # >0 wherever fpr>1
            offs = np.where(
                fpr[row_id] > 1,
                (frame_no * span) // max(n_frames - 1, 1),
                0,
            )
            flens = np.minimum(frame_bytes, lens[row_id] - offs)
            # gather every window's bytes in one fancy-index pass
            nbytes = int(flens.sum())
            wstarts = np.concatenate(([0], np.cumsum(flens)[:-1]))
            pos = np.arange(nbytes, dtype=np.int64) - np.repeat(wstarts, flens)
            src = np.repeat(blob_starts[row_id] + offs, flens) + pos
            flat = blob[src].tobytes()
            bounds = np.concatenate((wstarts, [nbytes]))
            frames = [
                flat[int(a):int(b)] for a, b in zip(bounds[:-1], bounds[1:])
            ]
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].to_numpy()[row_id],
                    "frame_no": frame_no.astype(np.int32),
                    "frame_off": offs,
                    "frame_len": flens.astype(np.int32),
                    "frame": frames,
                }
            )

    return pages.select(key_col, media_col).mapInPandas(kernel, schema)


def resize_grayscale(
    pages: DataFrame,
    media_col: str = "html",
    key_col: str = "url",
    src: tuple[int, int] = (32, 32),
    dst: tuple[int, int] = (8, 8),
) -> DataFrame:
    """Resize plumbing: views each blob's first src_h*src_w bytes as a
    grayscale bitmap (zero-padded when shorter) and block-mean downsamples
    to dst — ONE vectorized scatter + reshape-mean per Arrow batch, no
    per-row numpy. A real image decode would replace the byte-window view
    with actual pixel planes; the batching, scatter and pooling are
    unchanged. Output: one float per dst pixel, row-major."""
    H, W = src
    h, w = dst
    if H % h or W % w:
        raise ValueError("dst must evenly divide src")
    schema = f"{key_col} string, pixels array<double>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        hw = H * W
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            payloads = [
                p if p is not None else b"" for p in pdf[media_col]
            ]
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=n
            )
            clipped = np.minimum(lens, hw)
            blob = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            # vectorized scatter of each row's first `clipped` bytes into a
            # zero canvas: global positions minus per-row starts
            canvas = np.zeros((n, hw), dtype=np.float64)
            total = int(clipped.sum())
            if total:
                row_id = np.repeat(np.arange(n, dtype=np.int64), clipped)
                starts = np.concatenate(([0], np.cumsum(clipped)[:-1]))
                pos = np.arange(total, dtype=np.int64) - np.repeat(starts, clipped)
                blob_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                src_idx = np.repeat(blob_starts, clipped) + pos
                canvas[row_id, pos] = blob[src_idx]
            pooled = canvas.reshape(n, h, H // h, w, W // w).mean(axis=(2, 4))
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].to_numpy(),
                    "pixels": list(pooled.reshape(n, h * w)),
                }
            )

    return pages.select(key_col, media_col).mapInPandas(kernel, schema)


def multimodal_features_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: deterministic pages -> binary feature extract
    (rows-only check; the media decode itself is the deterministic fake)."""
    from ..sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_docs=500, seed=42)
    return extract_features(pages).select(
        "url", "n_bytes", "magic", F.round("entropy", 4).alias("entropy4")
    ).orderBy("url")


def _docs_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textstats import _docs

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("text").cast("binary").alias("html"),
    )


def frame_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED frame sampling over documents.text-as-binary: the
    kernel's offsets, lengths and frame md5s verified value-for-value
    against DuckDB substr/md5 (the text is pure printable ASCII, so string
    positions equal byte offsets)."""
    fs = frame_sample(_docs_as_media(spark, sf_dir), n_frames=4, frame_bytes=64)
    return fs.select(
        F.col("url").cast("long").alias("doc_id"),
        "frame_no",
        "frame_off",
        "frame_len",
        F.md5("frame").alias("frame_md5"),
    ).orderBy("doc_id", "frame_no")


def resize_grayscale_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED resize plumbing: documents.text's first 16 bytes as a
    4x4 grayscale bitmap, block-mean pooled to 2x2 — each output pixel is
    the mean of 4 byte values DuckDB recomputes via ascii(substr(...))."""
    rs = resize_grayscale(
        _docs_as_media(spark, sf_dir), src=(4, 4), dst=(2, 2)
    )
    px = [
        F.round(F.get(F.col("pixels"), k), 4).alias(name)
        for k, name in enumerate(("p00", "p01", "p10", "p11"))
    ]
    return rs.select(
        F.col("url").cast("long").alias("doc_id"), *px
    ).orderBy("doc_id")


def binary_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched binary featurizer over the documents table's bytes — the
    ORACLE-CHECKED form of extract_features: byte count, Shannon entropy and
    mean byte from the one-bincount-per-batch kernel, verified against
    DuckDB's entropy() aggregate over unnested bytes. (documents.text is
    pure printable ASCII, so DuckDB's per-char ascii() equals the byte.)"""
    from .textstats import _docs

    docs = _docs(spark, sf_dir)
    payload = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("text").cast("binary").alias("html"),
    )
    feats = extract_features(payload)
    return feats.select(
        F.col("url").cast("long").alias("doc_id"),
        "n_bytes",
        F.round("entropy", 4).alias("entropy4"),
        F.round("mean_byte", 4).alias("mean_byte4"),
    ).orderBy("doc_id")
