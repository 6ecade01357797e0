"""Top-level per-column-chunk encode/decode API.

One call = one column-chunk, the unit the reference processes one *value* at
a time (import walk HdfsSerDeImportService.java:173-200, export switch
Tuple.java:83-161). Here the whole chunk moves through numpy/Arrow kernels.

Null semantics: the reference leaks Hive's ``\\N`` as literal strings
(reference README.md:82) and hex-encodes binary (HdfsSerDeImportService.java:330-331);
we keep real nulls via an Arrow-compatible LSB validity bitmap and real bytes.

"The bytes of a column" has ONE definition here, :func:`canonical_column`:
the chunk id, the CRC, ``data_bytes`` and every codec read that form, so a
column is null-masked and converted once per chunk.
"""

from __future__ import annotations

import hashlib
import json
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from . import bss, dictenc, forbp, fsst, raw, rle
from .frame import pack_sections, unpack_sections
from .varbytes import arrow_to_varbytes, is_varbytes, varbytes_to_arrow

# ---------------------------------------------------------------------------
# arrow type <-> string (meta-safe round trip)

_SIMPLE_TYPES = {
    str(t): t
    for t in (
        pa.utf8(), pa.large_utf8(), pa.binary(), pa.large_binary(),
        pa.int8(), pa.int16(), pa.int32(), pa.int64(),
        pa.float32(), pa.float64(), pa.bool_(), pa.date32(),
        pa.timestamp("s"), pa.timestamp("ms"), pa.timestamp("us"), pa.timestamp("ns"),
    )
}


def type_to_str(typ: pa.DataType) -> str:
    return str(typ)


def str_to_type(s: str) -> pa.DataType:
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    if s.startswith("list<") and s.endswith(">"):
        # child field name varies by producer ("item" from pa.list_,
        # "element" from Spark's Arrow batches); nullability suffix too
        inner = s[len("list<"):-1]
        _, _, child = inner.partition(": ")
        child = child.removesuffix(" not null")
        return pa.list_(str_to_type(child))
    if s.startswith("decimal128("):
        p, sc = s[len("decimal128(") : -1].split(",")
        return pa.decimal128(int(p), int(sc))
    if s.startswith("timestamp["):
        inner = s[len("timestamp[") : -1]
        parts = [p.strip() for p in inner.split(",")]
        unit = parts[0]
        tz = None
        for p in parts[1:]:
            if p.startswith("tz="):
                tz = p[3:]
        return pa.timestamp(unit, tz=tz)
    raise ValueError(f"unsupported chunk type: {s}")


def _kind(typ: pa.DataType) -> str:
    if is_varbytes(typ):
        return "varbytes"
    if pa.types.is_integer(typ) or pa.types.is_timestamp(typ) or pa.types.is_date(typ) \
            or pa.types.is_boolean(typ):
        return "int"
    if pa.types.is_floating(typ):
        return "float"
    if pa.types.is_decimal(typ):
        return "dec128"
    if (pa.types.is_list(typ) or pa.types.is_large_list(typ)) \
            and typ.value_type in (pa.float32(), pa.float64()):
        # float16 is excluded deliberately: str_to_type has no halffloat
        # mapping, so an encoded chunk could never decode — reject at
        # encode time, not read time
        return "flist"
    raise ValueError(f"unsupported chunk type: {typ}")


def _flist_parts(dense: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Null-free list<float> array -> (per-row lengths int64, flattened
    child values in the child's own dtype). Null ELEMENTS inside vectors
    are rejected loud — a silent 0-fill would corrupt embeddings."""
    child = dense.flatten()
    if child.null_count:
        raise ValueError(
            "float-vector chunk has NULL elements inside vectors; "
            "flist codecs encode whole vectors (row-level NULL is fine)"
        )
    lengths = np.asarray(dense.value_lengths(), dtype=np.int64)
    np_dtype = np.float32 if child.type == pa.float32() else np.float64
    values = np.ascontiguousarray(
        child.to_numpy(zero_copy_only=False), dtype=np_dtype
    )
    return lengths, values


def _decimal_words(dense: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """decimal128 array (no nulls) -> (low int64, high int64) word streams.

    The reference stores decimals as unscaled big-endian bytes with
    sign-extension padding (Tuple.java:110-126, the 30-case padding matrix at
    HdfsSerDeExportServiceTest.java:277-391); Arrow gives us little-endian
    two's-complement int128 — two FoR+bit-pack streams, and the high word of
    real-world decimals is constant sign extension (packs to ~0 bits)."""
    buf = np.frombuffer(dense.buffers()[1], dtype=np.int64)
    words = buf[dense.offset * 2 : (dense.offset + len(dense)) * 2]
    return np.ascontiguousarray(words[0::2]), np.ascontiguousarray(words[1::2])


def _to_int64(arr: pa.Array) -> np.ndarray:
    """Null-free fixed-width arrow array -> canonical int64 (bit-faithful)."""
    typ = arr.type
    if pa.types.is_timestamp(typ):
        return arr.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_date(typ):
        return arr.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_boolean(typ):
        return arr.to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_floating(typ):
        v = arr.to_numpy(zero_copy_only=False)
        if typ == pa.float32():
            return v.astype(np.float32).view(np.int32).astype(np.int64)
        return v.astype(np.float64).view(np.int64)
    return arr.to_numpy(zero_copy_only=False).astype(np.int64)


def _from_int64(values: np.ndarray, typ: pa.DataType) -> pa.Array:
    if pa.types.is_timestamp(typ):
        return pa.array(values.astype("int64"), type=pa.int64()).cast(typ)
    if pa.types.is_date(typ):
        return pa.array(values.astype("int32"), type=pa.int32()).cast(typ)
    if pa.types.is_boolean(typ):
        return pa.array(values.astype(bool))
    if typ == pa.float32():
        return pa.array(values.astype(np.int32).view(np.float32))
    if typ == pa.float64():
        return pa.array(values.view(np.float64))
    np_dtype = typ.to_pandas_dtype()
    return pa.array(values.astype(np_dtype), type=typ)


# ---------------------------------------------------------------------------
# the canonical column form


@dataclass
class CanonicalColumn:
    """A column's LOGICAL values, independent of Arrow layout (slicing
    offsets, large vs regular offsets, chunking): the validity mask plus
    the kind's little-endian value streams over the non-null rows —

    - varbytes: lengths (int64), then bytes;
    - flist: lengths (int64), then the flattened float values;
    - dec128: low words, then high words (int64);
    - fixed-width: the int64 values.

    Chunk ids and CRCs both read this form, and resume against existing
    sinks depends on both: changing it is a declared, versioned format
    change."""

    arr: pa.Array  # chunks combined, large_list normalized to list
    kind: str
    valid: np.ndarray | None  # bool mask; None when the column has no nulls
    streams: tuple[np.ndarray, ...]

    def null_bitmap(self) -> bytes:
        """LSB-first validity bitmap (the payload's "null" section), or
        empty when the column has no nulls."""
        if self.valid is None:
            return b""
        return np.packbits(self.valid, bitorder="little").tobytes()

    def crc32(self) -> int:
        """The chunk CRC: the value streams, then the null bitmap."""
        crc = 0
        for s in self.streams:
            crc = zlib.crc32(s, crc)
        return zlib.crc32(self.null_bitmap(), crc)

    def data_bytes(self) -> int:
        """Exact LOGICAL value bytes — see :func:`encode_array`."""
        if self.kind in ("varbytes", "flist"):
            return int(self.streams[1].nbytes)
        return (16 if self.kind == "dec128" else 8) * len(self.arr)


def canonical_column(arr: pa.Array) -> CanonicalColumn:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_list(arr.type):
        arr = arr.cast(pa.list_(arr.type.value_type))
    kind = _kind(arr.type)
    valid = np.asarray(arr.is_valid()) if arr.null_count else None
    dense = arr.drop_null() if valid is not None else arr
    if kind == "varbytes":
        streams = arrow_to_varbytes(dense)
    elif kind == "flist":
        streams = _flist_parts(dense)
    elif kind == "dec128":
        streams = _decimal_words(dense)
    else:
        streams = (_to_int64(dense),)
    streams = tuple(
        s.astype(s.dtype.newbyteorder("<"), copy=False) for s in streams
    )
    return CanonicalColumn(arr, kind, valid, streams)


def chunk_id(names: list[str], columns: list[CanonicalColumn]) -> int:
    """Content-addressed chunk id: 8-byte blake2b of ALL columns' values.

    Hashing every column (not just the key column) makes the id a true
    content address: two chunk-row sets with the same id ARE value-identical,
    which is what the readers' duplicate-drop relies on. Input that drifted
    between runs (same urls, changed text) therefore gets NEW ids and
    re-encodes instead of silently aliasing the stale copy. Per column: the
    name, the MSB-first validity bitmap when it has nulls, then the value
    streams."""
    h = hashlib.blake2b(digest_size=8)
    for name, col in zip(names, columns):
        h.update(name.encode("utf-8"))
        if col.valid is not None:
            h.update(np.packbits(col.valid))
        for s in col.streams:
            h.update(s)
    return int.from_bytes(h.digest(), "big", signed=True)


# ---------------------------------------------------------------------------

_BYTES_CODECS = {
    "raw": (raw.encode_bytes, raw.decode_bytes),
    "dict": (dictenc.encode_bytes, dictenc.decode_bytes),
    "rle": (rle.encode_bytes, rle.decode_bytes),
    "fsst": (fsst.encode_bytes, fsst.decode_bytes),
}
_INT_CODECS = {
    "raw": (raw.encode_int, raw.decode_int),
    "forbp": (forbp.encode_int, forbp.decode_int),
    "rle": (rle.encode_int, rle.decode_int),
    "dict": (dictenc.encode_int, dictenc.decode_int),
}


@dataclass
class Encoded:
    codec: str
    payload: bytes  # packed sections (frame.py), incl. "null" bitmap section
    meta: str       # JSON
    n_rows: int
    bytes_in: int
    bytes_out: int
    data_bytes: int  # exact LOGICAL value bytes — see encode_array docstring
    crc32: int


def encode_array(
    arr: pa.Array | CanonicalColumn,
    codec: str = "auto",
    global_dict=None,
    cache_key: str | None = None,
) -> Encoded:
    """Encode one column-chunk, given as an Arrow array or as the canonical
    form the encode kernel already built for the chunk id. Besides the
    physical accounting (``bytes_in`` = Arrow buffer footprint,
    ``bytes_out`` = packed payload size), the result carries
    ``data_bytes``: the exact LOGICAL size of the chunk's values,
    computed from the values themselves so it is invariant under Arrow layout
    (slicing offsets, large vs regular string, materialized all-valid
    validity buffers, buffer padding):

    - varbytes (string/binary): sum of the non-null values' byte lengths —
      ``lengths.sum()`` over the same array the codec consumes;
    - float list: itemsize per element of the flattened vectors;
    - fixed-width (int/date/timestamp/bool/float): 8 bytes per row (the
      canonical int64 domain every kernel works in);
    - decimal128: 16 bytes per row.

    The reference's only write metric is the exact logical ``rowsExported``
    count (HdfsSerDeExportService.java:90) — same principle: account what
    was written, never infer it back from physical buffer sizes."""
    from . import selector  # imports this module's codec tables

    col = arr if isinstance(arr, CanonicalColumn) else canonical_column(arr)
    typ, kind, n = col.arr.type, col.kind, len(col.arr)

    if kind == "dec128":
        lo, hi = col.streams
        if codec == "auto":
            codec = "forbp"
        if codec != "forbp" and codec != "raw":
            raise ValueError(f"codec {codec} unsupported for decimal chunks")
        if codec == "forbp":
            lo_s, lo_m = forbp.encode_int(lo)
            hi_s, hi_m = forbp.encode_int(hi)
            sections = {"lo": lo_s["bp"], "hi": hi_s["bp"]}
            cmeta = {"lo": lo_m, "hi": hi_m}
        else:
            sections = {"lo": lo.tobytes(), "hi": hi.tobytes()}
            cmeta = {"n": len(lo)}
    elif kind == "flist":
        if codec == "auto":
            codec = "bss"
        if codec == "bss":
            sections, cmeta = bss.encode_flist(*col.streams)
        elif codec == "raw":
            sections, cmeta = bss.encode_flist_raw(*col.streams)
        else:
            raise ValueError(f"codec {codec} unsupported for flist chunks")
    elif kind == "varbytes":
        lengths, data = col.streams
        if codec == "auto":
            codec = selector.choose_bytes_codec(
                lengths, data, global_dict=global_dict, cache_key=cache_key
            )
        enc = _BYTES_CODECS[codec][0]
        if codec == "dict" and global_dict is not None:
            sections, cmeta = enc(lengths, data, global_dict=global_dict)
        elif codec == "fsst":
            sections, cmeta = enc(lengths, data, cache_key=cache_key)
        else:
            sections, cmeta = enc(lengths, data)
    else:
        (values,) = col.streams
        allowed = ("raw", "dict") if kind == "float" else tuple(_INT_CODECS)
        if codec == "auto":
            codec = selector.choose_int_codec(values, allowed)
        if codec not in allowed:
            raise ValueError(f"codec {codec} unsupported for {kind} chunks")
        sections, cmeta = _INT_CODECS[codec][0](values)

    null_bm = col.null_bitmap()
    if null_bm:
        sections = {**sections, "null": null_bm}
    payload = pack_sections(sections)
    meta = {"c": codec, "t": type_to_str(typ), "n": n, "m": cmeta}
    return Encoded(
        codec=codec,
        payload=payload,
        meta=json.dumps(meta, separators=(",", ":")),
        n_rows=n,
        bytes_in=sum(b.size for b in col.arr.buffers() if b is not None),
        bytes_out=len(payload),
        data_bytes=col.data_bytes(),
        crc32=col.crc32(),
    )


def decode_array(payload: bytes, meta: str, global_dict=None) -> pa.Array:
    m = json.loads(meta)
    codec, typ, n = m["c"], str_to_type(m["t"]), m["n"]
    kind = _kind(typ)
    sections = unpack_sections(payload)
    null_bm = sections.pop("null", None)
    valid = (
        np.unpackbits(np.frombuffer(null_bm, dtype=np.uint8), bitorder="little")[:n]
        .astype(bool)
        if null_bm
        else None
    )

    if kind == "dec128":
        if codec == "forbp":
            lo = forbp.decode_int({"bp": sections["lo"]}, m["m"]["lo"])
            hi = forbp.decode_int({"bp": sections["hi"]}, m["m"]["hi"])
        else:
            lo = np.frombuffer(sections["lo"], dtype=np.int64)
            hi = np.frombuffer(sections["hi"], dtype=np.int64)
        words = np.empty(len(lo) * 2, dtype=np.int64)
        words[0::2] = lo
        words[1::2] = hi
        if valid is None:
            return pa.Array.from_buffers(
                typ, n, [None, pa.py_buffer(words.tobytes())]
            )
        full = np.zeros(n * 2, dtype=np.int64)
        vi = np.flatnonzero(valid)
        full[vi * 2] = lo
        full[vi * 2 + 1] = hi
        return pa.Array.from_buffers(
            typ, n, [pa.py_buffer(null_bm), pa.py_buffer(full.tobytes())]
        )

    if kind == "flist":
        lengths, values = bss.decode_flist(sections, m["m"])
        child = pa.array(values, type=typ.value_type)
        if valid is None:
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(lengths, out=offsets[1:])
            return pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), child
            )
        full_lengths = np.zeros(n, dtype=np.int64)
        full_lengths[valid] = lengths
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(full_lengths, out=offsets[1:])
        return pa.Array.from_buffers(
            typ, n, [pa.py_buffer(null_bm), pa.py_buffer(offsets.tobytes())],
            children=[child],
        )

    if kind == "varbytes":
        dec = _BYTES_CODECS[codec][1]
        lengths, data = (
            dec(sections, m["m"], global_dict=global_dict)
            if codec == "dict" and m["m"].get("global")
            else dec(sections, m["m"])
        )
        if valid is None:
            return varbytes_to_arrow(lengths, data, typ)
        full_lengths = np.zeros(n, dtype=np.int64)
        full_lengths[valid] = lengths
        dense = varbytes_to_arrow(full_lengths, data, typ)
        bufs = dense.buffers()
        return pa.Array.from_buffers(typ, n, [pa.py_buffer(null_bm), *bufs[1:]])

    values = _INT_CODECS[codec][1](sections, m["m"])
    if valid is None:
        return _from_int64(values, typ)
    full = np.zeros(n, dtype=np.int64)
    full[valid] = values
    dense = _from_int64(full, typ)
    mask = pa.array(~valid)
    # rebuild with nulls: if_else keeps dense values where valid
    import pyarrow.compute as pc

    return pc.if_else(mask, pa.nulls(n, type=typ), dense)


def verify_crc(arr: pa.Array, expected_crc: int) -> bool:
    """Recompute the canonical CRC of a decoded chunk and compare."""
    return canonical_column(arr).crc32() == expected_crc
