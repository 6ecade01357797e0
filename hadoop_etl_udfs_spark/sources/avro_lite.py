"""Minimal pure-Python Avro Object Container File codec + distributed read.

The reference reads Avro through its SerDe dispatch ("all Hive SerDes —
Parquet, ORC, RC, Avro, JSON, text", doc/import.md:15; class-name dispatch at
HdfsSerDeImportService.java:84-85). Spark's equivalent is the external
spark-avro module, which this sandbox lacks — so the ``avro`` branch of the
format dispatch (sources/formats.py) falls back to this reader, implemented
from the PUBLIC Avro 1.11 specification (container-file + binary encoding),
so the dispatch path moves real Avro bytes instead of being permanently
"partial".

Scope (enough for pages-shaped tables and fixtures, NOT a full Avro stack):
- primitives: null, boolean, int, long, float, double, bytes, string
- unions of [null, <primitive>] (Avro's nullable idiom)
- nested records and arrays (single-block encoding) — what Iceberg manifest
  files need (sources/iceberg_lite.py); rows carry them as dicts / lists
- logicalType timestamp-micros on long (bare epoch-µs ints at the boundary)
- codec: null (uncompressed) and deflate

Distributed read = ``spark.read.format("binaryFile")`` (one row per .avro
file) + ``mapInArrow`` decoding each file to Arrow batches — one task per
file, the same unit of parallelism as the reference's per-file import
(HCatTableFiles round-robin, HCatTableFiles.java:128). The per-value decode
loop inside the kernel is pure Python: acceptable for fixture/evidence scale
and clearly documented as the fallback — production Avro ingest at 100 TB
should use the spark-avro JVM reader, which the dispatch prefers whenever
the module is on the classpath.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

from ..worker import drop_zip_finders

MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # deterministic sync marker (no wall-clock/random)


# ------------------------------------------------------------ binary coding

def _write_long(buf: io.BytesIO, n: int) -> None:
    """zigzag varint (Avro spec 'long')."""
    z = (n << 1) ^ (n >> 63)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_long(buf: memoryview, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.write(b)


def _read_bytes(buf: memoryview, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(buf, pos)
    return bytes(buf[pos : pos + n]), pos + n


def _type_name(schema) -> str:
    if isinstance(schema, dict):
        return schema["type"]
    return schema


def _encode_value(buf: io.BytesIO, schema, v) -> None:
    if isinstance(schema, list):  # union: branch index then value
        idx = next(
            (
                i for i, br in enumerate(schema)
                if (v is None) == (_type_name(br) == "null")
            ),
            None,
        )
        if idx is None:
            raise ValueError(
                f"value {v!r} fits no branch of union {schema!r} "
                "(None for a non-nullable union?)"
            )
        _write_long(buf, idx)
        _encode_value(buf, schema[idx], v)
        return
    t = _type_name(schema)
    if t == "null":
        return
    if v is None:
        raise ValueError(
            f"None for non-nullable avro type {t!r} — declare the field "
            'as a ["null", ...] union'
        )
    if t == "record":  # fields in declaration order, no per-record framing
        for fld in schema["fields"]:
            _encode_value(buf, fld["type"], v[fld["name"]])
        return
    if t == "array":  # one block (count, items) + zero terminator
        if len(v):
            _write_long(buf, len(v))
            for item in v:
                _encode_value(buf, schema["items"], item)
        _write_long(buf, 0)
        return
    if t == "boolean":
        buf.write(b"\x01" if v else b"\x00")
    elif t in ("int", "long"):
        _write_long(buf, int(v))
    elif t == "float":
        buf.write(struct.pack("<f", v))
    elif t == "double":
        buf.write(struct.pack("<d", v))
    elif t == "bytes":
        _write_bytes(buf, bytes(v))
    elif t == "string":
        _write_bytes(buf, v.encode("utf-8"))
    else:
        raise ValueError(f"avro_lite does not encode type {t!r}")


def _decode_value(buf: memoryview, pos: int, schema):
    if isinstance(schema, list):
        idx, pos = _read_long(buf, pos)
        return _decode_value(buf, pos, schema[idx])
    t = _type_name(schema)
    if t == "null":
        return None, pos
    if t == "record":
        rec = {}
        for fld in schema["fields"]:
            rec[fld["name"]], pos = _decode_value(buf, pos, fld["type"])
        return rec, pos
    if t == "array":  # blocks until the zero terminator; negative count =
        items = []    # block byte size follows (spec)
        while True:
            n, pos = _read_long(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:
                _, pos = _read_long(buf, pos)
                n = -n
            for _ in range(n):
                item, pos = _decode_value(buf, pos, schema["items"])
                items.append(item)
    if t == "boolean":
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return _read_long(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "bytes":
        return _read_bytes(buf, pos)
    if t == "string":
        b, pos = _read_bytes(buf, pos)
        return b.decode("utf-8"), pos
    raise ValueError(f"avro_lite does not decode type {t!r}")


# ------------------------------------------------------- container file IO

def write_avro(
    path: str, schema: dict, rows: list[dict], codec: str = "null",
    records_per_block: int = 1000,
) -> None:
    """Write an Avro Object Container File (spec layout: magic, metadata
    map with avro.schema/avro.codec, sync marker, then data blocks)."""
    fields = schema["fields"]
    with open(path, "wb") as f:
        head = io.BytesIO()
        head.write(MAGIC)
        _write_long(head, 2)  # metadata map: one block of 2 entries
        _write_bytes(head, b"avro.schema")
        _write_bytes(head, json.dumps(schema).encode("utf-8"))
        _write_bytes(head, b"avro.codec")
        _write_bytes(head, codec.encode("utf-8"))
        _write_long(head, 0)  # map terminator
        head.write(_SYNC)
        f.write(head.getvalue())
        for start in range(0, len(rows), records_per_block):
            block_rows = rows[start : start + records_per_block]
            body = io.BytesIO()
            for row in block_rows:
                for fld in fields:
                    _encode_value(body, fld["type"], row[fld["name"]])
            payload = body.getvalue()
            if codec == "deflate":  # raw deflate per spec (no zlib header)
                co = zlib.compressobj(6, zlib.DEFLATED, -15)
                payload = co.compress(payload) + co.flush()
            elif codec != "null":
                raise ValueError(f"unsupported avro codec {codec!r}")
            blk = io.BytesIO()
            _write_long(blk, len(block_rows))
            _write_long(blk, len(payload))
            blk.write(payload)
            blk.write(_SYNC)
            f.write(blk.getvalue())


def read_avro_bytes(content: bytes) -> tuple[dict, list[dict]]:
    """Decode one container file's bytes -> (writer schema, rows)."""
    mv = memoryview(content)
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_long(mv, pos)
        if n == 0:
            break
        if n < 0:  # negative count: block byte size follows (spec)
            _, pos = _read_long(mv, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(mv, pos)
            v, pos = _read_bytes(mv, pos)
            meta[k.decode("utf-8")] = v
    sync = bytes(mv[pos : pos + 16])
    pos += 16
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    fields = schema["fields"]
    rows: list[dict] = []
    total = len(content)
    while pos < total:
        n_rec, pos = _read_long(mv, pos)
        n_bytes, pos = _read_long(mv, pos)
        payload = mv[pos : pos + n_bytes]
        pos += n_bytes
        if bytes(mv[pos : pos + 16]) != sync:
            raise ValueError("avro block sync marker mismatch (torn file)")
        pos += 16
        if codec == "deflate":
            payload = memoryview(zlib.decompress(bytes(payload), wbits=-15))
        elif codec != "null":
            raise ValueError(f"unsupported avro codec {codec!r}")
        p = 0
        for _ in range(n_rec):
            row = {}
            for fld in fields:
                row[fld["name"]], p = _decode_value(payload, p, fld["type"])
            rows.append(row)
    return schema, rows


def read_avro(path: str) -> tuple[dict, list[dict]]:
    with open(path, "rb") as f:
        return read_avro_bytes(f.read())


# ----------------------------------------------------------- spark adapter

def pages_avro_schema() -> dict:
    """Writer schema for the pages table (timestamp-micros for warc_ts)."""
    return {
        "type": "record",
        "name": "page",
        "fields": [
            {"name": "url", "type": "string"},
            {"name": "warc_ts",
             "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "html", "type": "bytes"},
            {"name": "text", "type": "string"},
            {"name": "lang", "type": "string"},
        ],
    }


def _is_timestamp_micros(field_type) -> bool:
    if isinstance(field_type, list):  # nullable union idiom
        return any(_is_timestamp_micros(br) for br in field_type)
    return (
        isinstance(field_type, dict)
        and field_type.get("logicalType") == "timestamp-micros"
    )


_AVRO_PRIMITIVES = {
    "string": "string", "long": "long", "integer": "int",
    "double": "double", "float": "float", "binary": "bytes",
    "boolean": "boolean",
}


def avro_schema_for(df_schema) -> dict:
    """Spark StructType -> avro writer schema (fields as nullable unions,
    timestamps as timestamp-micros logical longs). Raises for types outside
    this module's documented primitive scope."""
    fields = []
    for f in df_schema.fields:
        name = f.dataType.typeName()
        if name in ("timestamp", "timestamp_ntz"):
            core = {"type": "long", "logicalType": "timestamp-micros"}
        elif name in _AVRO_PRIMITIVES:
            core = _AVRO_PRIMITIVES[name]
        else:
            raise ValueError(
                f"avro_lite cannot write Spark type {name!r} "
                f"(field {f.name!r}) — supported: "
                f"{sorted(_AVRO_PRIMITIVES)} + timestamp"
            )
        fields.append({"name": f.name, "type": ["null", core]})
    return {"type": "record", "name": "row", "fields": fields}


def write_avro_spark(df, path: str) -> int:
    """Distributed fallback sink: each task writes its partition as one
    Avro container file ``part-<pid>.avro`` under ``path``. Requires a
    filesystem shared by driver and executors (local mode, NFS) — the same
    honesty caveat as the fallback reader; production Avro export at scale
    uses the spark-avro JVM sink, which the dispatch prefers whenever the
    module is on the classpath. Returns the number of files written."""
    import pyarrow as pa
    from pyspark import TaskContext

    schema = avro_schema_for(df.schema)
    ts_cols = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() in ("timestamp", "timestamp_ntz")
    }
    os.makedirs(path, exist_ok=True)

    def write_part(batches):
        drop_zip_finders()
        rows: list[dict] = []
        for batch in batches:
            cols = {}
            for i, name in enumerate(batch.schema.names):
                col = batch.column(i)
                if name in ts_cols:
                    col = col.cast(pa.int64())  # epoch-µs for the logical type
                cols[name] = col.to_pylist()
            names = list(cols)
            for vals in zip(*(cols[n] for n in names)):
                rows.append(dict(zip(names, vals)))
        if rows:
            pid = TaskContext.get().partitionId()
            write_avro(
                os.path.join(path, f"part-{pid:05d}.avro"), schema, rows
            )
            yield pa.RecordBatch.from_pydict({"files": [1]})

    return int(
        df.mapInArrow(write_part, "files long").agg({"files": "sum"})
        .collect()[0][0] or 0
    )


def read_avro_spark(spark, path: str, ddl_schema: str):
    """Distributed Avro read: binaryFile scan (one row per file) +
    mapInArrow decode. The OUTPUT schema is caller-supplied DDL (the engine
    never infers, SURVEY.md §1.4); the embedded writer schema drives the
    byte decoding and must cover the requested columns."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(ddl_schema)
    out_arrow = to_arrow_schema(st)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )

    def decode(batches):
        drop_zip_finders()
        for batch in batches:
            for content in batch.column(0):
                schema, rows = read_avro_bytes(content.as_py())
                ts_fields = {
                    f["name"] for f in schema["fields"]
                    if _is_timestamp_micros(f["type"])
                }
                arrays = []
                for f in out_arrow:
                    vals = [r[f.name] for r in rows]
                    if f.name in ts_fields:
                        arrays.append(
                            pa.array(vals, type=pa.int64()).cast(f.type)
                        )
                    else:
                        arrays.append(pa.array(vals, type=f.type))
                yield pa.RecordBatch.from_arrays(arrays, schema=out_arrow)

    return files.mapInArrow(decode, ddl_schema)
