"""Golden-chunk tests (reference test family 1 — committed fixtures with
exact expected outputs, HdfsSerDeImportServiceTest.java:26-68): small
deterministic chunks with pinned codec metadata, so a format regression is
caught as a value change, not just a round-trip failure."""

import json

import numpy as np
import pyarrow as pa

from hadoop_etl_udfs_spark.codecs import encode_array, verify_crc
from hadoop_etl_udfs_spark.codecs.api import canonical_column, chunk_id, decode_array


def meta_of(enc):
    return json.loads(enc.meta)


def test_golden_rle_runs():
    arr = pa.array(["en"] * 5 + ["de"] * 3 + ["en"] * 2)
    enc = encode_array(arr, codec="rle")
    m = meta_of(enc)
    assert m["c"] == "rle" and m["n"] == 10
    assert m["m"]["n_runs"] == 3          # en-run, de-run, en-run
    assert m["m"]["w"] == 1               # 2 distinct values -> 1-bit codes
    assert decode_array(enc.payload, enc.meta).equals(arr)


def test_golden_forbp_width():
    # values 1000..1007: residual range 7 -> 3 bits, min 1000
    arr = pa.array(np.arange(1000, 1008), type=pa.int64())
    enc = encode_array(arr, codec="forbp")
    m = meta_of(enc)["m"]
    assert m["min"] == 1000 and m["w"] == 3 and m["n"] == 8
    assert enc.bytes_out < 8 * 8  # beats raw int64


def test_golden_forbp_constant_is_zero_width():
    arr = pa.array([42] * 100, type=pa.int64())
    enc = encode_array(arr, codec="forbp")
    m = meta_of(enc)["m"]
    assert m["w"] == 0
    # payload carries no residual bits at all
    from hadoop_etl_udfs_spark.codecs.frame import unpack_sections

    assert unpack_sections(enc.payload)["bp"] == b""


def test_golden_dict_codes():
    arr = pa.array(["x", "y", "x", "z", "x"])
    enc = encode_array(arr, codec="dict")
    m = meta_of(enc)["m"]
    assert m["n_uniq"] == 3 and m["w"] == 2
    assert decode_array(enc.payload, enc.meta).equals(arr)


def test_golden_fsst_learns_the_repeat():
    text = "abcdabcdabcd" * 200
    arr = pa.array([text])
    enc = encode_array(arr, codec="fsst")
    # 2400 bytes of a 4-byte period must compress > 3x
    assert enc.bytes_in / enc.bytes_out > 3
    assert decode_array(enc.payload, enc.meta).equals(arr)


def test_golden_crc_is_stable_across_encodes():
    arr = pa.array(["a", None, "bb"])
    e1 = encode_array(arr, codec="raw")
    e2 = encode_array(arr, codec="dict")
    # CRC is over the decoded canonical form — codec-independent
    assert e1.crc32 == e2.crc32


def golden_batch():
    """One fixed chunk covering every supported kind, with nulls, a sliced
    (non-zero offset) string, large offsets, negative decimals, NaN / -0.0
    floats and a NULL vector row."""
    import datetime as dt
    from decimal import Decimal

    words = ["alpha", None, "", "βeta", None, "gamma-δ", "x" * 40, "end"]
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(words),
            pa.array(["pad", "pad-2"] + words)[2:],
            pa.array([b"\x00\x01", None, b"", b"\xff" * 9, b"z", None, b"ab",
                      b"\x80"], pa.large_binary()),
            pa.array([7, None, -1, 2**62, None, 0, -(2**63), 5], pa.int64()),
            pa.array([t0 + dt.timedelta(microseconds=37 * i) for i in range(8)],
                     pa.timestamp("us", tz="UTC")),
            pa.array([dt.date(1969, 12, 30) + dt.timedelta(days=400 * i)
                      for i in range(8)], pa.date32()),
            pa.array([True, False, True, True, False, False, True, False]),
            pa.array([1.5, -0.0, float("nan"), 3.4e38, -1e-40, 0.0, 2.0, -7.25],
                     pa.float32()),
            pa.array([Decimal("12345.67890"), None, Decimal("-0.00001"),
                      Decimal("9" * 31 + ".99999"),
                      Decimal("-" + "9" * 31 + ".99999"), None,
                      Decimal("0.00000"), Decimal("-42.5")], pa.decimal128(36, 5)),
            pa.array([[1.0, 2.5], None, [], [-0.0, 3.25, 1e-3], [7.0], None,
                      [0.5], [1.0, 1.0]], pa.list_(pa.float32())),
        ],
        names=["s", "s_sliced", "blob", "i64", "ts", "d", "b", "f32", "dec", "vec"],
    )


# Resume against existing sinks matches on these values: a change here is a
# declared, versioned format change, never a test update
GOLDEN_CHUNK_ID = -4548747981652961355
GOLDEN_CRC32 = {
    "s": 1838078760, "s_sliced": 1838078760, "blob": 2050582692,
    "i64": 3025177448, "ts": 551417927, "d": 978156316, "b": 3324354985,
    "f32": 1527538847, "dec": 3351113126, "vec": 225762596,
}


def test_golden_chunk_id_and_crcs_are_pinned():
    batch = golden_batch()
    cols = [canonical_column(c) for c in batch.columns]
    assert chunk_id(batch.schema.names, cols) == GOLDEN_CHUNK_ID
    for name, col in zip(batch.schema.names, batch.columns):
        enc = encode_array(col)
        assert enc.crc32 == GOLDEN_CRC32[name], name
        assert verify_crc(decode_array(enc.payload, enc.meta), enc.crc32), name
