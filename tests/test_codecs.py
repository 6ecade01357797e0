"""Codec round-trip tests — the analog of the reference's export→import
bit-identity family (parquet/src/test/java/.../HdfsSerDeExportServiceTest.java:44-391):
encode a chunk, decode it, assert the values are bit-identical.
"""

import numpy as np
import pyarrow as pa
import pytest

from hadoop_etl_udfs_spark.codecs import decode_array, encode_array, verify_crc
from hadoop_etl_udfs_spark.codecs.bitpack import pack_bits, unpack_bits
from hadoop_etl_udfs_spark.codecs.frame import pack_sections, unpack_sections
from hadoop_etl_udfs_spark.codecs import fsst

rng = np.random.default_rng(42)


def roundtrip(arr: pa.Array, codec: str):
    enc = encode_array(arr, codec=codec)
    out = decode_array(enc.payload, enc.meta)
    assert out.type == arr.type
    assert out.equals(arr), f"{codec}: round-trip mismatch"
    assert verify_crc(out, enc.crc32)
    return enc


# ---------------------------------------------------------------- primitives

def test_bitpack_roundtrip():
    for width in [0, 1, 3, 7, 8, 13, 31, 47, 64]:
        n = 1000
        hi = (1 << width) if width < 64 else (1 << 63)
        v = rng.integers(0, max(hi, 1), size=n, dtype=np.uint64)
        if width < 64:
            v &= (np.uint64(1) << np.uint64(width)) - np.uint64(1) if width else np.uint64(0)
        out = unpack_bits(pack_bits(v, width), n, width)
        assert (out == v).all()


def test_frame_roundtrip():
    sections = {"a": b"hello", "empty": b"", "bin": bytes(range(256))}
    assert unpack_sections(pack_sections(sections)) == sections


# ------------------------------------------------------------------- strings

STRING_CHUNKS = {
    "mixed": ["hello", "world", "hello", "", "a" * 300, "hello"],
    "all_same": ["en"] * 50,
    "all_unique": [f"u{i}-{i*7}" for i in range(200)],
    "sorted_runs": sorted(["en"] * 40 + ["de"] * 25 + ["fr"] * 10 + ["ja"] * 3),
    "unicode": ["héllo wörld", "日本語テキスト", "emoji 🎉🎊", "ascii"],
}


@pytest.mark.parametrize("name", list(STRING_CHUNKS))
@pytest.mark.parametrize("codec", ["raw", "dict", "rle", "fsst"])
def test_string_roundtrip(name, codec):
    roundtrip(pa.array(STRING_CHUNKS[name], type=pa.string()), codec)


@pytest.mark.parametrize("codec", ["raw", "dict", "rle", "fsst"])
def test_string_with_nulls(codec):
    vals = ["x", None, "y", "x", None, "", "long text " * 20]
    roundtrip(pa.array(vals, type=pa.string()), codec)


@pytest.mark.parametrize("codec", ["raw", "dict"])
def test_binary_roundtrip(codec):
    vals = [bytes(rng.integers(0, 256, size=rng.integers(0, 500), dtype=np.uint8))
            for _ in range(60)]
    vals[5] = vals[0]  # a duplicate for dict
    roundtrip(pa.array(vals, type=pa.binary()), codec)
    roundtrip(pa.array(vals + [None], type=pa.large_binary()), codec)


def test_empty_chunk():
    for typ in [pa.string(), pa.int64(), pa.timestamp("us")]:
        roundtrip(pa.array([], type=typ), "raw")


# -------------------------------------------------------------------- ints

INT_CHUNKS = {
    "sorted_ts": np.sort(rng.integers(1_600_000_000_000_000, 1_600_001_000_000_000,
                                      size=5000)),
    "constant": np.full(1000, 42),
    "negatives": rng.integers(-(2**40), 2**40, size=2000),
    "runs": np.repeat(rng.integers(0, 5, size=30), rng.integers(1, 100, size=30)),
    "extremes": np.array([np.iinfo(np.int64).min, 0, np.iinfo(np.int64).max]),
}


@pytest.mark.parametrize("name", list(INT_CHUNKS))
@pytest.mark.parametrize("codec", ["raw", "forbp", "rle", "dict"])
def test_int_roundtrip(name, codec):
    roundtrip(pa.array(INT_CHUNKS[name], type=pa.int64()), codec)


@pytest.mark.parametrize("codec", ["raw", "forbp", "rle"])
def test_timestamp_roundtrip(codec):
    # bit-identical timestamps, the reference's INT96 round-trip analog
    # (HdfsSerDeExportServiceTest.java:135-176) — epoch-µs int64, no tz drift
    us = np.sort(rng.integers(1_500_000_000_000_000, 1_700_000_000_000_000, size=500))
    arr = pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))
    roundtrip(arr, codec)
    with_nulls = pa.array(
        [us[0], None, us[1], us[2], None], type=pa.int64()
    ).cast(pa.timestamp("us"))
    roundtrip(with_nulls, codec)


def test_float_roundtrip():
    v = rng.normal(size=1000)
    v[::7] = 3.14  # duplicates for dict
    for codec in ["raw", "dict"]:
        roundtrip(pa.array(v, type=pa.float64()), codec)
    nan_inf = pa.array([1.0, float("nan"), float("inf"), -0.0, None])
    for codec in ["raw", "dict"]:
        enc = encode_array(nan_inf, codec=codec)
        out = decode_array(enc.payload, enc.meta)
        # NaN != NaN, compare bit patterns
        a = np.asarray(nan_inf.fill_null(0.0)).view(np.int64)
        b = np.asarray(out.fill_null(0.0)).view(np.int64)
        assert (a == b).all() and out.is_null().equals(nan_inf.is_null())


def test_bool_and_date_roundtrip():
    roundtrip(pa.array([True, False, True, None, True]), "raw")
    roundtrip(pa.array([18000, 18001, None, 18500], type=pa.int32()).cast(pa.date32()),
              "forbp")


# ------------------------------------------------------------------ fsst

def test_fsst_compresses_text():
    text = ("the quick brown fox jumps over the lazy dog. " * 200).encode()
    arr = pa.array([text[i: i + 100].decode() for i in range(0, len(text) - 100, 100)])
    enc = encode_array(arr, codec="fsst")
    assert enc.bytes_out < enc.bytes_in * 0.6, "fsst should beat raw on repetitive text"
    out = decode_array(enc.payload, enc.meta)
    assert out.equals(arr)


def test_fsst_symbol_len_cap():
    merges, _ = fsst.train_and_encode(
        np.frombuffer(b"abcdefgh" * 1000, dtype=np.uint8)
    )
    lengths, _ = fsst.expansions(merges)
    assert lengths.max() <= fsst.MAX_SYMBOL_LEN
    assert len(merges) <= fsst.MAX_SYMBOLS


def test_fsst_random_binary_roundtrip():
    # adversarial: incompressible bytes must still round-trip exactly
    data = bytes(rng.integers(0, 256, size=5000, dtype=np.uint8))
    arr = pa.array([data[i: i + 50] for i in range(0, 5000, 50)], type=pa.binary())
    roundtrip(arr, "fsst")


# ------------------------------------------------------------ auto-selection

def test_auto_picks_sensible_codecs():
    cases = {
        # raw+frame-block-stage legitimately ties rle/dict on small
        # low-cardinality chunks, so those pins accept it too
        ("rle", "raw"): pa.array(sorted(["en"] * 5000 + ["de"] * 3000 + ["fr"] * 800)),
        ("dict", "raw"): pa.array(
            [f"host-{i % 37}.example.com" for i in rng.permutation(8000)]
        ),
    }
    for expected, arr in cases.items():
        enc = encode_array(arr, codec="auto")
        assert enc.codec in expected, f"expected {expected}, got {enc.codec}"
        assert decode_array(enc.payload, enc.meta).equals(arr)
    # a sorted key: raw+block-stage beats forbp, so the pin is the size —
    # within 5% of the best candidate and <=16 bits/value
    keys = pa.array(np.arange(1_000_000, 1_100_000, 7, dtype=np.int64))
    enc = encode_array(keys, codec="auto")
    best = min(encode_array(keys, codec=c).bytes_out for c in ("raw", "forbp", "rle", "dict"))
    assert enc.bytes_out <= best * 1.05, (enc.codec, enc.bytes_out, best)
    assert enc.bytes_out < len(keys) * 2
    assert decode_array(enc.payload, enc.meta).equals(keys)
    # auto never loses to raw by much and always round-trips
    unique_strs = pa.array([f"{i}-{rng.integers(0, 2**60)}" for i in range(3000)])
    enc = encode_array(unique_strs, codec="auto")
    assert decode_array(enc.payload, enc.meta).equals(unique_strs)


def test_decimal_roundtrip_matrix():
    """Reference parity: the 30-case decimal sign-extension padding matrix
    (HdfsSerDeExportServiceTest.java:277-391) — extremes, signs, nulls,
    36-digit precision, bit-identical."""
    from decimal import Decimal

    vals = [
        Decimal("0.00001"), Decimal("-0.00001"), None, Decimal("0.00000"),
        Decimal("999999999999999999999999999999.99999"),
        Decimal("-999999999999999999999999999999.99999"),
        Decimal("1.00000"), Decimal("-1.00000"),
    ] * 50
    arr = pa.array(vals, type=pa.decimal128(36, 5))
    for codec in ["forbp", "raw", "auto"]:
        enc = encode_array(arr, codec=codec)
        out = decode_array(enc.payload, enc.meta)
        assert out.equals(arr), codec
        assert verify_crc(out, enc.crc32)


def test_decimal_narrow_range_compresses():
    from decimal import Decimal

    arr = pa.array([Decimal(f"{i}.25") for i in range(5000)], type=pa.decimal128(18, 2))
    enc = encode_array(arr, codec="auto")
    assert enc.bytes_in / enc.bytes_out > 5  # high words pack to ~0 bits
    assert decode_array(enc.payload, enc.meta).equals(arr)


# ------------------------------------------------------------ frame formats

def test_frame_v2_roundtrip_and_compression():
    from hadoop_etl_udfs_spark.codecs.frame import pack_sections, unpack_sections

    sections = {
        "compressible": b"ab" * 4096,          # must shrink under the block stage
        "tiny": b"x",                           # below min size: stored raw
        "random": bytes(range(256)) * 1,        # small, stays raw
    }
    packed = pack_sections(sections)
    assert len(packed) < sum(len(v) for v in sections.values())
    assert unpack_sections(packed) == sections


def test_frame_v2_truncation_is_loud():
    import pytest

    from hadoop_etl_udfs_spark.codecs.frame import (
        CorruptChunkError,
        pack_sections,
        unpack_sections,
    )

    packed = pack_sections({"a": b"zz" * 4096})
    with pytest.raises(CorruptChunkError):
        unpack_sections(packed[: len(packed) - 5])
    with pytest.raises(CorruptChunkError):
        unpack_sections(b"XXXX" + packed[4:])
    # enc id 2 (the retired zlib fallback) is an unknown encoding now
    name_end = 6 + 1 + len("a")
    with pytest.raises(CorruptChunkError, match="unknown section encoding"):
        unpack_sections(packed[:name_end] + b"\x02" + packed[name_end + 1 :])


def test_flist_byte_stream_split_roundtrip():
    """list<float> (embedding) chunks: byte-stream-split codec — lossless
    byte permutation, bit-identical roundtrip, CRC-verified; row nulls,
    empty vectors, variable lengths, float32 AND float64."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = [rng.normal(0, 0.3, 64).astype(np.float32).tolist()
            for _ in range(100)]
    arr = pa.array(vecs, type=pa.list_(pa.float32()))
    for codec in ("auto", "bss", "raw"):
        e = encode_array(arr, codec=codec)
        d = decode_array(e.payload, e.meta)
        assert d.equals(arr)
        assert verify_crc(d, e.crc32)
        assert e.data_bytes == 4 * 64 * 100
    assert encode_array(arr).codec == "bss"

    ragged = pa.array(
        [[1.5, -2.25], None, [], [float("inf"), -0.0, 3.5e-20]],
        type=pa.list_(pa.float64()),
    )
    e = encode_array(ragged)
    d = decode_array(e.payload, e.meta)
    assert d.equals(ragged) and verify_crc(d, e.crc32)
    assert e.data_bytes == 8 * 5  # logical float payload only

    # large_list input normalizes to list; null ELEMENTS are loud
    al = arr.cast(pa.large_list(pa.float32()))
    assert decode_array(*(lambda x: (x.payload, x.meta))(encode_array(al))).equals(arr)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="NULL elements"):
        encode_array(pa.array([[1.0, None]], type=pa.list_(pa.float32())))


def test_flist_bss_beats_raw_on_structured_exponents():
    """The point of the byte split: embeddings share sign/exponent
    structure, so those planes compress under the frame's zstd while
    interleaved bytes don't. Unit-norm-ish vectors must encode strictly
    smaller via bss than raw."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = []
    for _ in range(200):
        v = rng.normal(0, 1, 64).astype(np.float32)
        v /= np.linalg.norm(v)
        vecs.append(v.tolist())
    arr = pa.array(vecs, type=pa.list_(pa.float32()))
    bss_e = encode_array(arr, codec="bss")
    raw_e = encode_array(arr, codec="raw")
    assert bss_e.bytes_out < raw_e.bytes_out
