"""Trial-pack cost model: pick the winning codec per column-chunk.

The reference offers no such choice — every column goes through parquet-mr
with dictionary-on and a single user-chosen block codec for the whole file
(ExaParquetWriterImpl.java:36-45, COMPRESSION_TYPE at ExportHCatTable.java:44).
Here each column-chunk independently gets the codec that stores the fewest
bytes on one bounded sample of the chunk: every candidate is encoded with its
real encoder and packed through the frame's block stage (zstd), so a codec is
judged by its size after the block stage, as it will be stored. Ties break
toward the cheaper-to-decode codec.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import dictenc, fsst
from .api import _BYTES_CODECS, _INT_CODECS
from .bitpack import bits_needed
from .frame import pack_sections
from .varbytes import varbytes_to_arrow

# decode-cost rank for tie-breaking (lower = cheaper to decode)
_DECODE_RANK = {"raw": 0, "forbp": 1, "dict": 2, "rle": 3, "fsst": 4}

# value bytes the trial packs: the whole chunk up to this size, otherwise
# four non-overlapping windows of a quarter of it each. Capping bytes, not
# values, keeps the trial's cost flat on long strings (html, text)
_SAMPLE_BYTES = 1 << 16


def _windows(offs: np.ndarray) -> list[tuple[int, int]]:
    """Value-index ranges of the trial sample, from the chunk's cumulative
    value byte offsets (``n + 1`` of them). Four windows spread across the
    chunk keep run adjacency observable within each, and a value
    distribution that drifts along the chunk (sorted data, constant head +
    varied tail) cannot fool the trial the way a head-only sample does."""
    n = len(offs) - 1
    if offs[-1] <= _SAMPLE_BYTES:
        return [(0, n)]
    per = _SAMPLE_BYTES // 4
    out, prev = [], 0
    for s in (0, n // 4, n // 2, int(np.searchsorted(offs, offs[-1] - per))):
        # at least one value per window; windows never overlap, so a
        # value is never counted twice
        s = max(min(s, n - 1), prev)
        e = int(np.searchsorted(offs, offs[s] + per, side="right")) - 1
        e = min(n, max(s + 1, e))
        if s < e:
            out.append((s, e))
            prev = e
    return out


def _pick(sizes: dict[str, float]) -> str:
    return min(sizes.items(), key=lambda kv: (kv[1], _DECODE_RANK[kv[0]]))[0]


def choose_int_codec(
    values: np.ndarray, candidates: tuple[str, ...] = ("raw", "forbp", "rle", "dict")
) -> str:
    """Fixed-width chunks (int64 canonical values). Floats pass their bit
    patterns with ``candidates=("raw", "dict")``."""
    n = len(values)
    if n == 0:
        return "raw"
    sample = np.concatenate([values[s:e] for s, e in _windows(np.arange(n + 1) * 8)])
    return _pick({c: len(pack_sections(_INT_CODECS[c][0](sample)[0])) for c in candidates})


def choose_bytes_codec(
    lengths: np.ndarray,
    data: np.ndarray,
    global_dict=None,
    cache_key: str | None = None,
) -> str:
    n = len(lengths)
    if n == 0:
        return "raw"
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    spans = _windows(offs)
    s_lengths = np.concatenate([lengths[s:e] for s, e in spans])
    s_data = np.concatenate([data[offs[s] : offs[e]] for s, e in spans])
    scale = n / len(s_lengths)

    encoders = {c: _BYTES_CODECS[c][0] for c in ("raw", "dict", "rle")}
    if global_dict is not None:
        # broadcast dictionary: codes only, no per-chunk dictionary storage
        encoders["dict"] = partial(dictenc.encode_bytes, global_dict=global_dict)
    sizes = {
        c: len(pack_sections(enc(s_lengths, s_data)[0])) * scale
        for c, enc in encoders.items()
    }

    # fsst can only beat raw+block-stage where the block codec struggles
    # (z_ratio, the raw trial's packed bytes per sampled value byte, is
    # high) yet substring structure exists; when zstd already gets <1.67x
    # on the sample, the fsst trial is pure overhead — skip it. At or under
    # the sample size, training costs more than any possible win
    total = data.nbytes
    if total <= _SAMPLE_BYTES:
        return _pick(sizes)
    z_ratio = sizes["raw"] / scale / max(1, s_data.nbytes)
    s_arr = varbytes_to_arrow(s_lengths, s_data, pa.large_binary())
    if z_ratio > 0.6 and pc.count_distinct(s_arr).as_py() / len(s_lengths) > 0.05:
        window = data[:_SAMPLE_BYTES]
        cached = fsst._TABLE_CACHE.get(cache_key) if cache_key else None
        if cached is not None:
            # estimate with the worker's cached table: one apply, no training
            tokens = fsst.apply_table(window, cached[1])
        else:
            _, tokens = fsst.train_and_encode(window, max_merges=64)
        w_tok = bits_needed(len(np.unique(tokens)) - 1)
        ratio = (len(tokens) * w_tok / 8.0) / float(window.nbytes)
        w_len = bits_needed(int(lengths.max()) - int(lengths.min()))
        # packed FSST tokens still shed ~15-25% under the frame's block stage
        sizes["fsst"] = total * ratio * 0.85 + 2048 + 1024 + n * w_len / 8.0
    return _pick(sizes)
