"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, and connected components over candidate pairs.
Single-pass DataFrame compositions of map-side combinable aggregates,
except two stages that run numpy kernels through ``mapInArrow`` (no
per-row Python). For MinHash signatures, Spark builds each doc's list of
shingle base hashes and a doc-local kernel takes the per-permutation
minima, one Arrow batch at a time. In star contraction, each large-star
or small-star op is one hash exchange and one kernel over a whole
shuffle partition of edges.

No reference counterpart (the reference moves data, it never dedups) — these
are the "beyond the reference" training-data operators the engine needs at
10^12-doc scale, where exact dedup is a hash shuffle and near-dup must be
candidate-generated (LSH bands) rather than all-pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..functions.text import fingerprint
from ..worker import drop_zip_finders


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: keep the smallest doc_id
    per fingerprint. At scale: one hash shuffle on the fingerprint (map-side
    partial min), no sort."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_doc_id")
    )


N_PERM = 32
BAND_ROWS = 4  # 8 bands x 4 rows

_SEP = "\x1f"  # unit separator between hash-input fields

# --- universal-hash permutation mixes (round 7) -----------------------------
# The signature stage used to evaluate n_perm FULL string hashes per shingle
# row (32 xxhash64/md5 calls each re-hashing the whole shingle) — 61% of the
# measured dedup-pipeline wall. Standard MinHash practice hashes the shingle
# ONCE and derives the permutations with a 2-universal integer family:
#     mix_p(h) = (a1_p * hi(h) + a2_p * lo(h) + b_p) mod (2^61 - 1)
# over the base hash's unsigned 32-bit halves — same MinHash guarantees,
# ~n_perm× less string hashing. a1, a2 < 2^29 and hi, lo < 2^32 keep each
# product under 2^61 and the sum under 2^63, so the mix never overflows a
# 64-bit integer: not in the signature kernel's uint64 numpy, and not in
# DuckDB's BIGINT, which reproduces it exactly — the oracle generator in
# __spark_entry__ imports these SAME constants (CLAUDE.md anti-drift rule).
_MIX_PRIME = (1 << 61) - 1
_MIX_SEED = 20240817


def _mix_params(n_perm: int = N_PERM, seed: int = _MIX_SEED) -> list[tuple[int, int, int]]:
    """Deterministic (a1, a2, b) per permutation: a1, a2 in [1, 2^29),
    b in [0, 2^61-1). Pure function of the seed — the DuckDB oracle embeds
    the same literals."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n_perm):
        a1 = int(rng.integers(1, 1 << 29))
        a2 = int(rng.integers(1, 1 << 29))
        b = int(rng.integers(0, _MIX_PRIME))
        out.append((a1, a2, b))
    return out


def _hash64(cols: list, seed: int, method: str = "xxhash64"):
    """64-bit-ish hash column. ``xxhash64`` is the production path (fastest,
    JVM-native); ``md5`` derives a 60-bit value from the md5 hex prefix —
    slower, but expressible in DuckDB 1.0, so the *_checked query variants
    can be oracle-verified end-to-end with identical values."""
    if method == "xxhash64":
        return F.xxhash64(*cols, F.lit(seed))
    s = F.concat_ws(_SEP, *[c.cast("string") for c in cols], F.lit(str(seed)))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _words(docs: DataFrame) -> DataFrame:
    """(doc_id, w) with ``w`` the doc's whitespace-split words. Blank and
    NULL texts are dropped: they have no shingle (split yields [''], the
    one shingle the string form's ``<> ''`` filter removes). Binding ``w``
    in its own select evaluates the split once per doc, not once per use
    inside the shingle lambdas."""
    return docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w")
    )


# word 3-gram shingle strings of ``w``, built as the DuckDB oracles build
# them; a doc of fewer than 3 words has one shingle of all its words
_SHINGLE_SQL = (
    "transform(sequence(0, greatest(size(w), 3) - 3), "
    "i -> concat_ws(' ', slice(w, i + 1, 3)))"
)

# string-free shingle base hashes for the PRODUCTION signature path: one
# xxhash64 over the k-gram's WORDS directly (tokens never contain the split
# whitespace, so hashing the 3 fields distinguishes exactly the triples the
# concat string did). F.get past the array end yields NULL, which xxhash64
# skips — short docs (< k words) hash their available words, same membership
# as the string path's partial concat. k=3 pinned like _SHINGLE_SQL.
_BASE_HASH_SQL = (
    "transform(sequence(0, greatest(size(w), 3) - 3), "
    "i -> xxhash64(get(w, i), get(w, i + 1), get(w, i + 2), 0))"
)


def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) rows where ``sh`` = xxhash64 of the word k-gram — the
    string-free analog of the ``_SHINGLE_SQL`` strings (same
    ``_BASE_HASH_SQL`` expression the minhash rewrite measured at 4x the
    string path).

    Distinct-shingle semantics carry over 1:1 up to 64-bit hash
    collisions (p ≈ n²·2⁻⁶⁴ per doc pair — negligible at any corpus
    size; the same standing approximation as minhash banding itself), so
    the shingle-JOIN operators (jaccard, containment, decontamination)
    keep their string-based DuckDB oracles: intersection/size counts over
    hashes equal those over strings. What changes at scale: no shingle
    string is ever built (the profiled 5.3-of-7.3s term) and the join/
    shuffle keys are 8-byte longs instead of ~20-byte strings."""
    return _words(docs).select(
        "doc_id", F.explode(F.expr(_BASE_HASH_SQL)).alias("sh")
    )


# hash values the signature kernel mixes at a time: bounds its temporaries
# (a few 8 MB arrays) whatever the Arrow batch or document size
_KERNEL_SLICE = 1 << 20


def _minhash_minima(
    h: np.ndarray, starts: np.ndarray, params: list[tuple[int, int, int]]
) -> np.ndarray:
    """(len(params), len(starts)) int64 minima of mix_p over each doc's
    base hashes. ``h`` holds every doc's hashes back to back as uint64;
    ``starts`` is each doc's first index, strictly increasing from 0 (no
    empty doc, which ``reduceat`` would read as its successor's first
    value). ``h`` is mixed one permutation and at most ``_KERNEL_SLICE``
    values at a time; a doc cut by a slice edge folds its partial minima
    into the output."""
    prime = np.uint64(_MIX_PRIME)
    out = np.full((len(params), starts.size), prime, np.uint64)
    for lo in range(0, h.size, _KERNEL_SLICE):
        part = h[lo:lo + _KERNEL_SLICE]
        d0 = np.searchsorted(starts, lo, "right") - 1
        d1 = np.searchsorted(starts, lo + part.size, "left")
        at = np.maximum(starts[d0:d1] - lo, 0)
        hi32 = part >> np.uint64(32)
        lo32 = part & np.uint64(0xFFFFFFFF)
        v, t = np.empty_like(part), np.empty_like(part)
        for p, (a1, a2, b) in enumerate(params):
            np.multiply(hi32, np.uint64(a1), out=v)
            np.multiply(lo32, np.uint64(a2), out=t)
            v += t
            v += np.uint64(b)
            v %= prime
            np.minimum(out[p, d0:d1], np.minimum.reduceat(v, at),
                       out=out[p, d0:d1])
    return out.view(np.int64)


def minhash_signatures(
    docs: DataFrame, n_perm: int = N_PERM, method: str = "xxhash64"
) -> DataFrame:
    """One row per doc with n_perm minhash values ``mh0..mh{n_perm-1}``.

    ``doc_id`` must be a key of ``docs``: each input row with a shingle
    emits its own row (rows sharing an id are not merged). Blank and NULL
    texts have no shingle and emit no row. No step moves data between
    partitions:

    1. One projection builds each doc's ``array<long>`` of shingle base
       hashes. ``xxhash64`` (production) uses ``_BASE_HASH_SQL``, which
       hashes each k-gram's words in place: round 7 measured the shingle
       string construction at 5.3 of the stage's 7.3 s at 205k docs.
       ``md5`` hashes the ``_SHINGLE_SQL`` strings, the values the DuckDB
       oracle of the ``*_checked`` queries builds.
    2. One ``mapInArrow`` kernel applies the n_perm mixes of
       :func:`_mix_params` in uint64 numpy and takes each doc's minima
       (:func:`_minhash_minima`).

    The kernel replaced an explode to one row per shingle, a shuffle and a
    groupBy with n_perm ``min`` aggregates. On a 4-core host the traced
    signature stage of ``perfbench``'s ``dedup_pipeline`` went 1.13 →
    0.38 s and its job CPU 4.62 → 3.51 CPU-s (median of 12 interleaved
    runs)."""
    params = _mix_params(n_perm)
    if method == "xxhash64":
        hashes = F.expr(_BASE_HASH_SQL)
    else:
        hashes = F.transform(
            F.expr(_SHINGLE_SQL), lambda s: _hash64([s], 0, method)
        )
    lists = _words(docs).select("doc_id", hashes.alias("h"))
    schema = StructType(
        [lists.schema["doc_id"]]
        + [StructField(f"mh{p}", LongType()) for p in range(n_perm)]
    )

    def kernel(batches):
        drop_zip_finders()
        for batch in batches:
            arr = batch.column(1)
            lengths = pc.list_value_length(arr).fill_null(0).to_numpy()
            keep = np.flatnonzero(lengths)
            if keep.size == 0:
                continue
            h = arr.flatten().to_numpy().view(np.uint64)
            starts = np.zeros(keep.size, np.int64)
            np.cumsum(lengths[keep][:-1], out=starts[1:])
            mins = _minhash_minima(h, starts, params)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(keep)] + [pa.array(m) for m in mins],
                names=schema.fieldNames(),
            )

    return lists.mapInArrow(kernel, schema)


MAX_BAND_BUCKET = 64  # band buckets bigger than this are skipped entirely


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, n_perm: int = N_PERM,
    band_rows: int = BAND_ROWS, method: str = "xxhash64",
    max_band_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs.

    shingle -> minhash -> band signatures -> self-join on (band, signature).
    The join key is the band signature, so candidate generation is a hash
    join on a small projected table — never an all-pairs comparison.

    ``max_band_bucket`` bounds the degenerate case: a class of K identical
    documents shares ALL band signatures, so without a cap one hot bucket
    yields K² candidate rows. Buckets larger than the cap are skipped
    (documented approximation, mirroring similarity.embedding_neardup_pairs'
    MAX_BUCKET): members of an over-cap bucket are overwhelmingly
    byte-identical copies, which belong to exact_dedup — run it first, as
    textstats.corpus_filter_pipeline does. Results are exact whenever every
    band bucket is under the cap. The bucket-size filter is an aggregate +
    re-join on the same (band, sig) key — co-partitioned with the pair join,
    NOT broadcast (the bucket list scales with the corpus)."""
    return minhash_lsh_pairs_df(
        _docs(spark, sf_dir), n_perm, band_rows, method, max_band_bucket
    )


def minhash_lsh_pairs_df(
    docs: DataFrame, n_perm: int = N_PERM,
    band_rows: int = BAND_ROWS, method: str = "xxhash64",
    max_band_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` over an arbitrary (doc_id, text) DataFrame —
    the composable form bench.py's end-to-end dedup-pipeline run feeds with
    the 1.8M-doc synthesized pages table."""
    sig = minhash_signatures(docs, n_perm, method=method)
    return lsh_band_pairs(sig, n_perm, band_rows, method, max_band_bucket)


def lsh_band_pairs(
    sig: DataFrame, n_perm: int = N_PERM,
    band_rows: int = BAND_ROWS, method: str = "xxhash64",
    max_band_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Band-explode + capped bucket self-join over a PRECOMPUTED signature
    DataFrame (``minhash_signatures`` output: doc_id, mh0..mh{n_perm-1}).

    Split out of :func:`minhash_lsh_pairs_df` (round 6) so callers that need
    per-stage cost attribution — bench.py's dedup-pipeline entry times
    signature computation, band-pair generation, and CC contraction as
    separate materializations — can checkpoint the signature stage between
    the two. Semantics are unchanged: composing this with
    ``minhash_signatures`` is exactly ``minhash_lsh_pairs_df``."""
    n_bands = n_perm // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _hash64(
                    [F.col(f"mh{b * band_rows + r}") for r in range(band_rows)],
                    b,
                    method,
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    buckets = sig.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    # Round 9 restructure (guide §2.4/§3.3): the former cap filter was an
    # aggregate + RE-JOIN on (band, sig) followed by a bucket SELF-join —
    # four evaluations of the whole signature subtree in one plan (the
    # sf0.1 physical plan showed 4 parquet scans, 8 exchanges and 3
    # joins; plans/r09/minhash_lsh_pairs_before.txt). Instead: ONE pass —
    # a window count on the same (band, sig) partitioning replaces the
    # count-join (WindowExec spills gracefully on a degenerate bucket),
    # then each surviving bucket collects its doc ids (bounded by the cap
    # — the array only materializes AFTER the filter) and emits each
    # unordered pair exactly once via an index-offset transform. Same
    # pairs, same n_shared_bands (= co-occurring buckets), one subtree:
    # 1 scan, 4 exchanges, joins eliminated (…_after.txt).
    w = Window.partitionBy("band", "sig")
    kept = (
        buckets.withColumn("_bn", F.count("*").over(w))
        .filter(
            (F.col("_bn") <= max_band_bucket) & (F.col("_bn") >= 2)
        )
        .drop("_bn")
    )
    grouped = kept.groupBy("band", "sig").agg(
        F.collect_list("doc_id").alias("ids")
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> "
                "struct(least(x, y) as doc_a, greatest(x, y) as doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    )


def simhash64(
    spark: SparkSession, sf_dir: str, method: str = "xxhash64", n_bits: int = 64
) -> DataFrame:
    """n_bits-bit SimHash per document: token hash bit-votes, one pass.

    Conditional-sum aggregates (all map-side combinable) then bit
    reassembly — stays in whole-stage codegen, no explode-per-bit. The
    ``md5`` method (with n_bits <= 32, inside the md5-derived 60-bit value)
    is the DuckDB-expressible checked variant."""
    if method == "md5" and n_bits > 60:
        raise ValueError(
            "md5-derived hashes carry 60 bits; bits above that would vote "
            "constant -1 and silently zero the simhash head — use n_bits<=60"
        )
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).withColumn("h", _hash64([F.col("tok")], 0, method))
    # per-bit ONE counts instead of ±1 votes: the ±1 sum equals
    # 2*ones - n, so vote>0 ⇔ 2*ones > n — same simhash, but each
    # aggregate is a bare bitop sum (no CASE branch).
    #
    # Round 9: TWO bit-counts ride in ONE sum aggregate via 32-bit lanes —
    # bit b accumulates in the low lane, bit b+half in the high lane
    # (sum(lo_bit + hi_bit<<32)). Profiled at sf0.1: the per-aggregate
    # input projection dominates this stage (64 one-expression aggregates
    # 2.26 s vs 32 packed 0.83 s vs 64 aggregates of ONE shared expression
    # 0.63 s — the distinct shift expressions are the cost, the buffer
    # updates are not), so halving the aggregate count halves the hot
    # term. Lanes cannot collide under ANSI: a doc's text is one Spark
    # string (< 2^31 bytes), so per-doc token counts are < 2^30 and the
    # packed sum stays below 2^30·(2^32+1) < 2^63. Unpacking uses
    # shiftrightunsigned / bitwiseAND, so the per-bit ones counts — and
    # therefore every simhash bit — are identical to the unpacked form
    # (tests/test_dedup.py parity test).
    half = (n_bits + 1) // 2
    packed = []
    for b in range(half):
        lo = F.shiftrightunsigned(F.col("h"), b).bitwiseAND(1)
        hi_bit = b + half
        if hi_bit < n_bits:
            hi = F.shiftrightunsigned(F.col("h"), hi_bit).bitwiseAND(1)
            expr = lo + F.shiftleft(hi, 32)
        else:  # odd n_bits: the last lane carries only its low bit
            expr = lo
        packed.append(F.sum(expr).alias(f"p{b}"))
    agg = tok.groupBy("doc_id").agg(*packed, F.count("*").alias("_n"))
    _LANE_MASK = F.lit((1 << 32) - 1)

    def _ones(b: int):
        if b < half:
            return F.col(f"p{b}").bitwiseAND(_LANE_MASK)
        return F.shiftrightunsigned(F.col(f"p{b - half}"), 32)

    sim = None
    for b in range(n_bits):
        bit = F.when(2 * _ones(b) > F.col("_n"), F.lit(1).cast("long")).otherwise(0)
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return agg.select("doc_id", sim.alias("simhash")).orderBy("doc_id")


def minhash_lsh_pairs_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of minhash_lsh_pairs: identical banding pipeline,
    md5-derived hashes DuckDB can reproduce value-for-value."""
    return minhash_lsh_pairs(spark, sf_dir, method="md5")


def simhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of simhash64: same vote/reassembly pipeline over
    32 bits of the md5-derived hash."""
    return simhash64(spark, sf_dir, method="md5", n_bits=32)


def _sym(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


_STAR_EDGES = StructType([
    StructField("u", LongType()), StructField("v", LongType()),
    StructField("changed", BooleanType()),
])


def _grouped_edges(batches, key: int):
    """One partition's distinct edges as int64 arrays ``k, o`` sorted by
    (k, o), ``k`` being the endpoint in column ``key``, and the mask of
    where each ``k`` group starts; None for an empty partition."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return None
    k, o = (
        np.concatenate([b.column(c).to_numpy() for b in batches])
        for c in (key, 1 - key)
    )
    order = np.lexsort((o, k))
    k, o = k[order], o[order]
    first = np.r_[True, k[1:] != k[:-1]]
    keep = first | np.r_[True, o[1:] != o[:-1]]
    return k[keep], o[keep], first[keep]


def _star_batch(u, v, changed) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(x) for x in (u, v, changed)], names=_STAR_EDGES.fieldNames()
    )


def _large_star_kernel(batches):
    """Large-star over one ``u``-partition of the symmetric edges: each
    node u links every larger neighbour v to m = min(Γ(u) ∪ {u}). Flags
    the emitted edges whose m is not u."""
    drop_zip_finders()
    if (g := _grouped_edges(batches, 0)) is not None:
        u, v, first = g
        m = np.minimum(u, v[first][np.cumsum(first) - 1])  # v ascends per u
        up = v > u
        yield _star_batch(m[up], v[up], m[up] != u[up])


def _small_star_kernel(batches):
    """Small-star over one ``v``-partition of the ``u < v`` edges: each
    node v links itself and its smaller neighbours to m, the smallest of
    them. Flags each node with more than one smaller neighbour."""
    drop_zip_finders()
    if (g := _grouped_edges(batches, 1)) is not None:
        v, u, first = g
        m = u[first][np.cumsum(first) - 1]
        last = np.r_[first[1:], True]
        yield _star_batch(m, np.where(first, v, u), first & ~last)


def duplicate_clusters_star(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b",
    max_iter: int = 25, stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup candidate pairs — the step that
    turns pairwise evidence into dedup DECISIONS: each document's
    ``cluster_rep`` is the smallest doc_id reachable through the pair graph
    (keep the rep, drop the rest), plus the cluster's size, for every
    document in some pair (singletons need no dedup decision). Ids are
    integers and come out as longs; the rows come in no set order.

    Algorithm: alternating large-star/small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014). It
    needs O(log n) ALTERNATIONS regardless of the graph's diameter, where
    min-label propagation needs O(diameter) rounds (a 200-node chain = 200
    rounds). Each star op is one hash exchange and one ``mapInArrow``
    kernel: large-star groups the symmetric edges by ``u``, small-star
    the ``u < v`` edges by ``v``. Each kernel sorts and dedups its own
    input, holding one shuffle partition's edges as two int64 arrays
    (under 64 bytes an edge row at peak, with the sort's copies).

    Convergence is exact: an alternation leaves the edge set as it was
    exactly when large-star maps every edge to itself and no node has two
    smaller neighbours. The kernels flag both cases, two ``Observation``s
    sum the flags on the alternation's checkpoint job, and the loop stops
    on the first alternation with no flag. ``stats``, when passed,
    receives {"alternations", "n_edges"}: the alternations run and the
    distinct non-self-loop edges (one first large-star row each)."""
    # materialize the pairs projection ONCE at entry: the edges and the
    # self-paired docs would otherwise EACH re-evaluate the caller's lazy
    # upstream (typically the full minhash/band-join pipeline) — measured
    # 7x on the bench's 205k-doc pipeline before the round-6 fix
    raw = pairs.select(
        F.least(src, dst).cast("long").alias("u"),
        F.greatest(src, dst).cast("long").alias("v"),
    ).localCheckpoint()
    e = raw.filter(F.col("u") != F.col("v"))
    for it in range(max_iter):
        large, small = Observation(), Observation()
        e = (
            _sym(e).repartition("u")
            .mapInArrow(_large_star_kernel, _STAR_EDGES)
            .observe(large, F.count("*").alias("n"),
                     F.count_if("changed").alias("changed"))
            .select("u", "v").repartition("v")
            .mapInArrow(_small_star_kernel, _STAR_EDGES)
            .observe(small, F.count_if("changed").alias("changed"))
            .select("u", "v")
            .localCheckpoint()
        )
        if it == 0 and stats is not None:
            stats["n_edges"] = large.get["n"]
        if large.get["changed"] == small.get["changed"] == 0:
            if stats is not None:
                stats["alternations"] = it + 1
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters_star did not converge in {max_iter} "
            "alternations — not expected for any graph of < 2^25 nodes"
        )
    # fixpoint edges are stars (component_min, leaf): leaves label to the
    # center, centers and self-paired docs to themselves
    return (
        e.select(F.col("v").alias("doc_id"), F.col("u").alias("rep"))
        .union(e.select("u", "u"))
        .union(raw.filter(F.col("u") == F.col("v")))
        .groupBy("doc_id")
        .agg(F.min("rep").alias("cluster_rep"))
        .withColumn("cluster_size",
                    F.count("*").over(Window.partitionBy("cluster_rep")))
    )


def dedup_clusters_star_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: connected components over the oracle-checked MinHash
    candidate pairs — the full near-dup resolution pipeline (pairs ->
    clusters -> representative), value-verified against a DuckDB recursive
    CTE over the same md5 banding SQL."""
    return duplicate_clusters_star(minhash_lsh_pairs_checked(spark, sf_dir))


MAX_SHINGLE_DF = 50  # shingles in more docs than this are stopword phrases
CONTAINMENT_THRESHOLD = 0.5


def _blocked_shingle_inter(
    docs: DataFrame, max_shingle_df: int
) -> tuple[DataFrame, DataFrame]:
    """The blocked shingle-overlap machinery shared by
    :func:`ngram_jaccard_pairs` and :func:`containment_pairs` (their
    oracles already share one CTE generator — the Spark side must too, so
    a cap/blocking change can never desync them): distinct per-doc hashed
    shingles joined with the (lang, source) block, stopword-phrase DF cap,
    then (inter, sizes) — pairwise intersection counts over ``doc_a <
    doc_b`` within a block, and per-doc shingle-set sizes."""
    sh = _shingle_hashes(docs).join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    )
    sh = sh.dropDuplicates(["doc_id", "sh"])
    # Round 9 restructure, the lsh_band_pairs pattern (guide §2.4): the
    # former rare-filter aggregate + RE-JOIN followed by a shingle
    # self-join evaluated the whole hashed-shingle subtree four times.
    # One pass instead: a window count on sh applies the
    # document-frequency cap (same distinct-per-doc counting — the
    # dropDuplicates above runs first either way), each surviving
    # (sh, lang, source) bucket collects its cap-bounded doc ids
    # (hashpartitioning(sh) already clusters the superset key — no new
    # exchange), pairs explode once per co-occurring shingle, and sizes
    # come from the SAME grouped table (explode + per-doc count) instead
    # of a second subtree evaluation. Intersections and set sizes are
    # identical by construction; both oracle-gated consumers stay green.
    kept = (
        sh.withColumn("_df", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("_df") <= max_shingle_df)
        .drop("_df")
    )
    grouped = kept.groupBy("sh", "lang", "source").agg(
        F.collect_list("doc_id").alias("ids")
    ).localCheckpoint()  # 2 consumers: pair explode + sizes explode
    sizes = (
        grouped.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    inter = (
        grouped.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> "
                    "struct(least(x, y) as doc_a, greatest(x, y) as doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return inter, sizes


def containment_pairs(
    spark: SparkSession, sf_dir: str,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Shingle CONTAINMENT near-dup pairs, blocked by (lang, source):
    ``containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|`` — the asymmetric
    measure Jaccard misses: a short document quoted inside a long one has
    near-zero Jaccard (the union is huge) but containment ≈ 1, and
    training pipelines drop exactly those embedded copies (Broder's
    containment, the resemblance paper's second measure). One row per
    unordered pair with BOTH directions; kept when either side crosses
    ``threshold``.

    Same plan shape and ``max_shingle_df`` stopword-phrase cap as
    ngram_jaccard_pairs (shingle-equality self-join is quadratic in a hot
    shingle's document frequency — capped identically), so the 100 TB
    scaling argument carries over unchanged (the machinery IS shared:
    :func:`_blocked_shingle_inter`, hashed shingles — no string
    construction, 8-byte keys; counts equal the string semantics up to
    negligible collisions, so the string-based oracle still gates the
    values)."""
    docs = _docs(spark, sf_dir)
    inter, sizes = _blocked_shingle_inter(docs, max_shingle_df)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment_a", F.round(F.col("n_inter") / F.col("na"), 4))
        .withColumn("containment_b", F.round(F.col("n_inter") / F.col("nb"), 4))
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("doc_a", "doc_b", "containment_a", "containment_b")
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.1,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """n-gram Jaccard over candidate pairs blocked by (lang, source).

    Blocking bounds the pair count; the shingle sets stay distributed
    (explode + join + count) — no collect, no per-row Python.

    ``max_shingle_df`` caps the scale-killer: a shingle occurring in N docs
    contributes N^2 rows to the equality self-join, so stopword phrases make
    the hot-shingle head quadratic at 100 TB. Shingles with document
    frequency above the cap are dropped from the shingle universe BEFORE
    sizes and intersections (a consistent approximation: Jaccard over the
    sub-stopword shingle sets; exact whenever no shingle exceeds the cap).

    Round 7: shingles join as 64-bit HASHES via the shared
    :func:`_blocked_shingle_inter` machinery (no string construction,
    8-byte join/shuffle keys); set sizes and intersections equal the
    string semantics up to negligible collisions, so the string-based
    oracle still gates the values."""
    docs = _docs(spark, sf_dir)
    inter, sizes = _blocked_shingle_inter(docs, max_shingle_df)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
