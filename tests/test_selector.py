"""Cost-model selector on adversarial chunks (SURVEY.md §7.1 step 2:
all-unique, all-constant, sorted, skewed) — the winner must be sane and the
encode must never be dramatically worse than the best alternative."""

import numpy as np
import pyarrow as pa

from hadoop_etl_udfs_spark.codecs import decode_array, encode_array

rng = np.random.default_rng(11)


def best_possible(arr, candidates):
    sizes = {}
    for c in candidates:
        try:
            sizes[c] = encode_array(arr, codec=c).bytes_out
        except Exception:
            pass
    return sizes


def check_auto_near_best(arr, candidates, slack=1.35):
    enc = encode_array(arr, codec="auto")
    assert decode_array(enc.payload, enc.meta).equals(arr)
    sizes = best_possible(arr, candidates)
    best = min(sizes.values())
    assert enc.bytes_out <= best * slack, (
        f"auto={enc.codec}:{enc.bytes_out} vs best={sizes}"
    )
    return enc


def test_all_constant_string():
    arr = pa.array(["same"] * 10_000)
    # raw+block-stage, rle, and dict are all near-optimal for a constant
    # column; the selector may pick any of them as long as the size is tiny
    enc = check_auto_near_best(arr, ["raw", "dict", "rle", "fsst"])
    assert enc.codec in ("rle", "dict", "raw")
    assert enc.bytes_out < 500


def test_all_unique_random_strings():
    vals = ["".join(map(chr, rng.integers(33, 127, size=20))) for _ in range(5000)]
    check_auto_near_best(pa.array(vals), ["raw", "dict", "rle", "fsst"])


def test_sorted_low_cardinality():
    arr = pa.array(sorted(rng.choice(["aa", "bb", "cc", "dd"], size=20_000)))
    enc = check_auto_near_best(arr, ["raw", "dict", "rle", "fsst"])
    assert enc.codec in ("rle", "raw")  # raw+block-stage ties rle here
    assert enc.bytes_out < 1000


def test_skewed_zipf_strings():
    # zipf: one dominant value + long tail
    tail = [f"tail-{i}" for i in range(500)]
    vals = ["dominant"] * 9000 + [tail[i % 500] for i in range(1000)]
    check_auto_near_best(pa.array(vals), ["raw", "dict", "rle", "fsst"])


def test_constant_int():
    arr = pa.array(np.full(50_000, 123456789), type=pa.int64())
    enc = encode_array(arr, codec="auto")
    assert enc.bytes_out < 200  # FoR width 0 or RLE single run
    assert decode_array(enc.payload, enc.meta).equals(arr)


def test_all_unique_random_ints():
    arr = pa.array(rng.integers(-(2**62), 2**62, size=20_000), type=pa.int64())
    enc = check_auto_near_best(arr, ["raw", "forbp", "rle", "dict"])


def test_sorted_dense_ints():
    # raw+block-stage stores ~51 kB here, forbp ~100 kB: the block stage
    # decides, so the pin is the size, not a codec name
    arr = pa.array(np.arange(1_000_000, 1_050_000), type=pa.int64())
    enc = check_auto_near_best(arr, ["raw", "forbp", "rle", "dict"], slack=1.05)
    assert enc.bytes_out < 50_000 * 2  # <=16 bits/value


def test_mixed_length_strings_with_outlier():
    vals = ["short"] * 1000 + ["x" * 100_000]  # one huge value skews avg_len
    enc = encode_array(pa.array(vals), codec="auto")
    assert decode_array(enc.payload, enc.meta).equals(pa.array(vals))


# --------------------------------------------------- one trial, all kinds

INT_CODECS = ["raw", "forbp", "rle", "dict"]
STR_CODECS = ["raw", "dict", "rle"]  # fsst's decode-cost trade is gated on purpose
SLICE = 16_384


def test_sequential_key_priced_after_block_stage():
    arr = pa.array(np.arange(5_000_000, 5_000_000 + SLICE), type=pa.int64())
    check_auto_near_best(arr, INT_CODECS, slack=1.05)


def test_sorted_timestamps_priced_after_block_stage():
    # uniform draws over ONE day: forbp keeps ~37 bits/value, while zstd
    # shrinks the sorted raw values more (a years-wide range would make
    # forbp the real winner)
    day_us = 86_400 * 10**6
    ts = np.sort(rng.integers(0, day_us, size=SLICE)) + 1_700_000_000 * 10**6
    check_auto_near_best(pa.array(ts, type=pa.timestamp("us")), INT_CODECS, slack=1.05)


def test_low_cardinality_floats():
    arr = pa.array(rng.choice(np.round(rng.normal(size=50), 3), size=SLICE))
    enc = encode_array(arr, codec="auto")
    assert decode_array(enc.payload, enc.meta).equals(arr)
    if enc.codec != "dict":
        check_auto_near_best(arr, ["raw", "dict"], slack=1.05)


def test_global_dict_chunk_packs_codes_only():
    from hadoop_etl_udfs_spark.codecs.varbytes import arrow_to_varbytes

    vocab = [f"https://host-{i}.example.com/".encode() for i in range(300)]
    lengths, data = arrow_to_varbytes(pa.array(vocab, type=pa.binary()))
    gd = (lengths, data, {v: i for i, v in enumerate(vocab)})
    arr = pa.array([vocab[i].decode() for i in rng.integers(0, 300, size=20_000)])
    enc = encode_array(arr, codec="auto", global_dict=gd)
    assert enc.codec == "dict"
    assert decode_array(enc.payload, enc.meta, global_dict=gd).equals(arr)


def test_small_string_chunk_is_its_own_sample():
    # more values than the old 4,096-value sample, fewer bytes than the
    # trial's byte cap: the trial packs the whole chunk, so auto IS the
    # per-candidate minimum
    hosts = [f"h{i % 90}.ex.org" for i in rng.permutation(4_500)]
    arr = pa.array(hosts)
    assert 4_096 < len(arr) and sum(map(len, hosts)) < 1 << 16
    enc = encode_array(arr, codec="auto")
    sizes = best_possible(arr, STR_CODECS)
    assert enc.bytes_out == min(sizes.values()), (enc.codec, sizes)


def test_mini_census_regret():
    """Every 16,384-row slice of a sequential key, a sorted timestamp, a
    random int and a low-cardinality string, plus one synthetic pages
    batch: ``auto`` stores at most 1% more than the per-slice best."""
    from hadoop_etl_udfs_spark.codecs.varbytes import is_varbytes
    from hadoop_etl_udfs_spark.sources.pages import _gen_batch

    g = np.random.default_rng(7)
    n = 4 * SLICE
    day_us = 86_400 * 10**6
    columns = [
        pa.array(np.arange(10**9, 10**9 + n), type=pa.int64()),
        pa.array(np.sort(g.integers(0, day_us, size=n)), type=pa.timestamp("us")),
        pa.array(g.integers(0, 10**6, size=n), type=pa.int64()),
        pa.array(g.choice(["en", "de", "fr", "ja", "pt", "ru"], size=n)),
    ]
    slices = [c.slice(s, SLICE) for c in columns for s in range(0, n, SLICE)]
    slices += _gen_batch(np.arange(4_096, dtype=np.uint64), seed=1).columns
    auto = best = 0
    for arr in slices:
        cands = STR_CODECS if is_varbytes(arr.type) else INT_CODECS
        enc = encode_array(arr, codec="auto")
        auto += enc.bytes_out
        best += min(best_possible(arr, cands).values())
    assert auto <= best * 1.01, (auto, best)
