"""Per-chunk Bloom filters for point-lookup chunk pruning.

Zone maps (operators/encode.py::_col_stats) prune RANGE predicates; they
are useless for equality on high-cardinality keys (url, doc_id) whose
per-chunk [min, max] spans nearly the whole domain. This module adds the
classic columnar answer — the same role Parquet/ORC bloom filters play:
at encode time each chunk stamps a small bitset over the chunk's values
of a declared key column; a point lookup ("fetch THESE urls", "purge
THESE doc_ids") probes the bitsets and decodes the key of only the
chunks that can possibly contain a requested key. False positives cost a
wasted key decode; false negatives are impossible — the same
correct-by-construction asymmetry as the zone maps.

The filter rides INSIDE the existing per-chunk-column ``stats`` JSON
(key ``"bloom"``), so the sink schema (operators.encode.ENCODED_SCHEMA)
is unchanged: old sinks read fine (no bloom -> conservative keep), bloomed
sinks read fine on old readers (stats stays a zone-map JSON with one
extra key; ``$.min``/``$.max`` paths are untouched).

ONE hash scheme is defined here and shared by the writer kernel and
every reader — ``pandas.util.hash_array`` (SipHash-1-3 with pandas'
fixed default key for strings, the deterministic uint64 mix for int64),
vectorized C for the whole chunk, zero per-row Python — split into k
probe positions by double hashing (Kirsch & Mitzenmacher 2006: h1 + i*h2
touches k positions from one 64-bit hash with no measurable fpp loss).
The ``dom`` tag ("str"/"int") recorded in the filter pins the value
domain so a reader can never hash query ids in a different
representation than the writer hashed the column (the lexicographic-
comparison guard of decode_chunks_where, transplanted to hashing).

Sizing: BITS_PER_VALUE = 10 rounded UP to a power of two per chunk
(~1.25-2.5 bytes/row -> fpp well under 1% at k = 6), so the mod is a
mask and the whole probe is branch-free numpy. An all-null chunk stamps
an explicit EMPTY filter — "definitely contains none of your keys" —
which prunes harder than the conservative no-stats keep.

Reference parity note: the reference engine (exasol/hadoop-etl-udfs)
has no pruning index at all — every IMPORT scans every split. This is a
north-rule operator (SURVEY.md §2.9 extension), not a port.
"""

from __future__ import annotations

import base64
import json

import numpy as np
import pandas as pd  # module-level: the pandas UDF's type hints resolve here
import pyarrow as pa

from ..worker import drop_zip_finders

BLOOM_BITS_PER_VALUE = 10
BLOOM_K = 6
_MIN_BITS = 256  # floor so tiny chunks still get a real filter
BLOOM_VERSION = 1


def bloom_domain(arrow_type: pa.DataType) -> str | None:
    """"str" / "int" / None — the hash-input representation for a column
    type, None when the type is not bloom-indexable."""
    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return "str"
    if (
        pa.types.is_integer(arrow_type)
        or pa.types.is_timestamp(arrow_type)
        or pa.types.is_date(arrow_type)
    ):
        return "int"
    return None


def _hash_values(values: np.ndarray, dom: str) -> np.ndarray:
    """The ONE uint64 hash both sides use. ``values`` is an object array
    of str (dom="str") or an int64 array (dom="int")."""
    if dom == "str":
        return pd.util.hash_array(np.asarray(values, dtype=object))
    return pd.util.hash_array(np.asarray(values, dtype=np.int64))


def _positions(hashes: np.ndarray, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; m is a power of two."""
    h1 = hashes & np.uint64(m - 1)
    h2 = (hashes >> np.uint64(33)) | np.uint64(1)  # odd -> full-cycle step
    i = np.arange(BLOOM_K, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) & np.uint64(m - 1)


def bloom_build(arr: pa.Array) -> dict:
    """Bloom dict for one chunk's column values (nulls skipped):
    ``{"v", "dom", "m", "k", "b64"}``. Raises on non-indexable types —
    the caller validates at write time, so this is a programming error."""
    dom = bloom_domain(arr.type)
    if dom is None:
        raise TypeError(f"type {arr.type} is not bloom-indexable")
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    dense = arr.drop_null()
    if pa.types.is_timestamp(arr.type):
        dense = dense.cast(pa.int64())
    elif pa.types.is_date(arr.type):
        dense = dense.cast(pa.int32())
    n = len(dense)
    m = _MIN_BITS
    while m < n * BLOOM_BITS_PER_VALUE:
        m <<= 1
    buf = np.zeros(m >> 3, dtype=np.uint8)
    if n:
        vals = dense.to_numpy(zero_copy_only=False)
        pos = _positions(_hash_values(vals, dom), m).ravel()
        np.bitwise_or.at(buf, pos >> 3, np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return {
        "v": BLOOM_VERSION,
        "dom": dom,
        "m": m,
        "k": BLOOM_K,
        "b64": base64.b64encode(buf.tobytes()).decode("ascii"),
    }


def merge_bloom_into_stats(stats_json: str | None, bloom: dict) -> str:
    """Attach the filter to the chunk-column's stats JSON (the zone-map
    min/max keys, when present, are preserved untouched)."""
    d = json.loads(stats_json) if stats_json else {}
    d["bloom"] = bloom
    return json.dumps(d, separators=(",", ":"))


def hash_query_ids(ids, dom: str) -> np.ndarray:
    """uint64 hashes for a point-lookup id list, in the SINK's recorded
    domain. Type-checks every id against ``dom`` — hashing an int against
    a string-hashed filter would be a silent never-match (the bloom
    analog of a lexicographic comparison), so it raises instead."""
    ids = list(ids)
    if not ids:
        raise ValueError("empty id list — a point lookup needs keys")
    if any(i is None for i in ids):
        raise ValueError("None in id list — bloom filters index non-null keys")
    if dom == "str":
        if not all(isinstance(i, str) for i in ids):
            raise TypeError(
                "sink bloom domain is 'str' but ids contain non-strings — "
                "they would hash to never-match; pass the key values as "
                "strings"
            )
        vals = np.array(ids, dtype=object)
    else:
        if not all(isinstance(i, (int, np.integer)) for i in ids):
            raise TypeError(
                "sink bloom domain is 'int' but ids contain non-ints "
                "(timestamps/dates probe as epoch ints in the column's "
                "storage unit)"
            )
        vals = np.asarray(ids, dtype=np.int64)
    return _hash_values(vals, dom)


def bloom_contains_any(bloom: dict, hashes: np.ndarray) -> bool:
    """True iff ANY of the pre-hashed query ids may be in the chunk."""
    m = bloom["m"]
    buf = np.frombuffer(base64.b64decode(bloom["b64"]), dtype=np.uint8)
    pos = _positions(hashes, m)
    bits = (buf[pos >> np.uint64(3)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
    return bool(bits.all(axis=1).any())


def stats_hit_udf(spark, hashes: np.ndarray):
    """Arrow-batched pandas UDF ``stats_json -> may_contain`` with the
    query hashes broadcast — the manifest-side probe stays distributed
    (no driver collect of per-chunk stats, which at corpus scale is the
    only metadata that grows with data bytes). Rows WITHOUT a bloom must
    be kept by the CALLER (this udf only sees/judges bloomed rows)."""
    from pyspark.sql import functions as F

    h_bc = spark.sparkContext.broadcast(hashes)

    @F.pandas_udf("boolean")
    def _hit(stats: pd.Series) -> pd.Series:
        drop_zip_finders()
        h = h_bc.value
        out = []
        for s in stats:
            if s is None:
                out.append(True)  # defensive: caller should have kept these
                continue
            d = json.loads(s)
            b = d.get("bloom")
            out.append(True if b is None else bloom_contains_any(b, h))
        return pd.Series(out, dtype="boolean")

    return _hit
