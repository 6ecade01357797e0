"""Per-column lightweight-compression codec kernels (pure numpy/Arrow).

Codec families (SURVEY.md §2.9): dict, RLE, FSST, frame-of-reference +
bit-pack, raw — with auto-selection (selector.py) that packs every candidate
through the zstd block stage over one bounded sample of the chunk. The
top-level chunk API is :mod:`hadoop_etl_udfs_spark.codecs.api`.
"""

from .api import Encoded, decode_array, encode_array, verify_crc  # noqa: F401
