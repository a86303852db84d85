"""Pure-Python Avro Object Container File codec (fallback reader).

Avro is the reference's *input format* (``App.java:92-94``), but this
container ships neither the spark-avro connector jar nor a Python avro
package, and has no network to fetch them — so the native
``spark.read.format("avro")`` path stays env-blocked.  This module
implements the public Avro 1.x container-file spec
(https://avro.apache.org/docs/current/specification/ — header magic
``Obj\\x01``, metadata map with ``avro.schema``/``avro.codec``, 16-byte
sync marker, zigzag-varint binary encoding) for the subset of types the
engine's schema registry speaks: null, boolean, int, long, float,
double, bytes, string, array, map, record, and 2-branch null unions,
plus the timestamp-millis/micros logical types.  Unsupported schema
features fail loudly — never a silent wrong decode.

Scale shape of the reader: ``binaryFile`` lists and fans whole files out
to executors (one row per file), and decoding runs inside
``mapInPandas`` — Arrow-batched, executor-side, no driver loop.  A
1000-executor cluster decodes 1000 files at a time; per-file work is
pure CPU.  This is still the *fallback* path: when the spark-avro jar is
present the native vectorized connector wins and ``readers.read_batch``
uses it first.  Writes: :func:`write_avro_file` encodes one container
file in one process, which builds reader inputs; production writes go
through the connector.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

# ---------------------------------------------------------------- decode

class _Reader:
    """Binary decoder over one buffer (spec §'Binary Encoding')."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise EOFError("truncated avro data")
        self.pos += n
        return b

    def long(self) -> int:
        """Zigzag varint (int and long share the encoding)."""
        shift, acc = 0, 0
        while True:
            byte = self.buf[self.pos]
            self.pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def decode(self, schema) -> object:
        if isinstance(schema, list):  # union: long branch index, then value
            return self.decode(schema[self.long()])
        typ = schema["type"] if isinstance(schema, dict) else schema
        if isinstance(typ, (dict, list)):  # nested schema in "type" slot
            return self.decode(typ)
        if typ == "null":
            return None
        if typ == "boolean":
            return self.read(1) == b"\x01"
        if typ in ("int", "long"):
            return self.long()
        if typ == "float":
            return struct.unpack("<f", self.read(4))[0]
        if typ == "double":
            return struct.unpack("<d", self.read(8))[0]
        if typ == "bytes":
            return self.read(self.long())
        if typ == "string":
            return self.read(self.long()).decode("utf-8")
        if typ == "record":
            return {f["name"]: self.decode(f["type"]) for f in schema["fields"]}
        if typ == "array":
            out = []
            while True:
                n = self.long()
                if n == 0:
                    return out
                if n < 0:  # block with byte-size prefix; size is skippable
                    n = -n
                    self.long()
                for _ in range(n):
                    out.append(self.decode(schema["items"]))
        if typ == "map":
            out = {}
            while True:
                n = self.long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    self.long()
                for _ in range(n):
                    k = self.read(self.long()).decode("utf-8")
                    out[k] = self.decode(schema["values"])
        raise NotImplementedError(f"unsupported avro type {typ!r}")


def _decompress(codec: str, block: bytes) -> bytes:
    if codec in ("null", ""):
        return block
    if codec == "deflate":  # raw deflate, no zlib header (spec)
        return zlib.decompressobj(-15).decompress(block)
    raise NotImplementedError(f"unsupported avro codec {codec!r}")


def parse_container(data: bytes) -> tuple[dict, Iterator[dict]]:
    """Parse one container file → (writer schema, record iterator)."""
    r = _Reader(data)
    if r.read(4) != MAGIC:
        raise ValueError("not an avro container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            k = r.read(r.long()).decode("utf-8")
            meta[k] = r.read(r.long())
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = r.read(SYNC_SIZE)

    def records() -> Iterator[dict]:
        while r.pos < len(r.buf):
            count = r.long()
            size = r.long()
            block = _Reader(_decompress(codec, r.read(size)))
            if r.read(SYNC_SIZE) != sync:
                raise ValueError("sync marker mismatch (corrupt block)")
            for _ in range(count):
                yield block.decode(schema)

    return schema, records()


# ------------------------------------------------- avro schema → Spark

_PRIMITIVE = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def to_spark_type(schema) -> T.DataType:
    if isinstance(schema, list):  # union — only [null, X] supported
        branches = [b for b in schema if b != "null"]
        if len(branches) != 1:
            raise NotImplementedError(f"unsupported union {schema!r}")
        return to_spark_type(branches[0])
    if isinstance(schema, str):
        if schema in _PRIMITIVE:
            return _PRIMITIVE[schema]
        raise NotImplementedError(f"unsupported avro type {schema!r}")
    typ = schema["type"]
    logical = schema.get("logicalType")
    if logical in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType()
    if typ == "record":
        return T.StructType(
            [
                T.StructField(f["name"], to_spark_type(f["type"]))
                for f in schema["fields"]
            ]
        )
    if typ == "array":
        return T.ArrayType(to_spark_type(schema["items"]))
    if typ == "map":
        return T.MapType(T.StringType(), to_spark_type(schema["values"]))
    return to_spark_type(typ)


def _timestamp_cols(schema: dict) -> dict[str, int]:
    """Top-level logical timestamp fields → microseconds-per-unit.
    Looks through ``[null, X]`` unions (how nullable fields are written)."""
    out = {}
    for f in schema.get("fields", ()):
        ft = f["type"]
        if isinstance(ft, list):
            branches = [b for b in ft if b != "null"]
            ft = branches[0] if len(branches) == 1 else None
        if isinstance(ft, dict):
            lt = ft.get("logicalType")
            if lt == "timestamp-millis":
                out[f["name"]] = 1_000
            elif lt == "timestamp-micros":
                out[f["name"]] = 1
    return out


# --------------------------------------------------------------- reader

def read_avro_python(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType | None = None,
) -> DataFrame:
    """Distributed fallback Avro scan: binaryFile listing + mapInPandas
    decode.  Schema comes from the first file's writer schema when not
    given (one tiny driver-side read, like the connector's footer probe);
    every other file's header must then map to the SAME Spark schema —
    heterogeneous writer schemas across a partition fail loudly inside
    the decoder instead of being silently projected by the first file's
    shape (the module's contract: loud, never lossy).
    """
    import pandas as pd  # local import: executors ship the closure

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.avro")
        .load(paths)
        .select("path", "content")
    )
    if schema is None:
        first = files.limit(1).collect()
        if not first:
            raise ValueError(f"no .avro files under {paths!r}")
        writer_schema, _ = parse_container(bytes(first[0]["content"]))
        if writer_schema.get("type") != "record":
            raise NotImplementedError("top-level avro schema must be a record")
        spark_schema = to_spark_type(writer_schema)
        enforce_equality = True
    else:
        spark_schema = schema
        enforce_equality = False  # caller asserted the projection
    names = [f.name for f in spark_schema.fields]
    # Spark's Arrow path reads naive pandas timestamps as session-zone
    # wall clocks, so decode epoch-micros into THAT zone — not UTC —
    # or a non-UTC session (one built outside session.py/load_table,
    # which pin UTC) would read instants shifted by the zone offset.
    session_tz = spark.conf.get("spark.sql.session.timeZone")

    def decode_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                ws, recs = parse_container(bytes(blob))
                if enforce_equality:
                    file_schema = to_spark_type(ws)
                    if file_schema != spark_schema:
                        raise ValueError(
                            "heterogeneous avro writer schemas: "
                            f"{path} maps to {file_schema.simpleString()}, "
                            f"expected {spark_schema.simpleString()}; pass "
                            "an explicit schema= to project instead"
                        )
                ts_units = _timestamp_cols(ws)
                rows = list(recs)
                out = pd.DataFrame(
                    {n: [row.get(n) for row in rows] for n in names}
                )
                for col, unit in ts_units.items():
                    if col in out:
                        out[col] = (
                            pd.to_datetime(out[col] * unit, unit="us", utc=True)
                            .dt.tz_convert(session_tz)
                            .dt.tz_localize(None)
                        )
                yield out

    return files.mapInPandas(decode_files, schema=spark_schema)


# --------------------------------------------------------------- writer

def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(schema, value, out: bytearray) -> None:
    typ = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):
        idx = 0 if value is None and "null" in schema else next(
            i for i, b in enumerate(schema) if b != "null"
        )
        out += _zigzag(idx)
        if schema[idx] != "null":
            _encode(schema[idx], value, out)
        return
    if isinstance(typ, (dict, list)):
        _encode(typ, value, out)
        return
    if typ == "null":
        return
    if typ == "boolean":
        out += b"\x01" if value else b"\x00"
    elif typ in ("int", "long"):
        out += _zigzag(int(value))
    elif typ == "float":
        out += struct.pack("<f", value)
    elif typ == "double":
        out += struct.pack("<d", value)
    elif typ == "bytes":
        out += _zigzag(len(value)) + bytes(value)
    elif typ == "string":
        b = value.encode("utf-8")
        out += _zigzag(len(b)) + b
    elif typ == "record":
        for f in schema["fields"]:
            _encode(f["type"], value[f["name"]], out)
    elif typ == "array":
        if value:
            out += _zigzag(len(value))
            for item in value:
                _encode(schema["items"], item, out)
        out += _zigzag(0)
    elif typ == "map":
        if value:
            out += _zigzag(len(value))
            for k, v in value.items():
                kb = k.encode("utf-8")
                out += _zigzag(len(kb)) + kb
                _encode(schema["values"], v, out)
        out += _zigzag(0)
    else:
        raise NotImplementedError(f"unsupported avro type {typ!r}")


def write_avro_file(
    path: str,
    schema: dict,
    records: list[dict],
    codec: str = "deflate",
    records_per_block: int = 1000,
) -> None:
    """Write one container file (tests/tooling; production = connector)."""
    sync = bytes(
        (i * 73 + 41) & 0xFF for i in range(SYNC_SIZE)
    )  # fixed marker: deterministic output for byte-stable tests
    buf = io.BytesIO()
    buf.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    buf.write(_zigzag(len(meta)))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        buf.write(_zigzag(len(kb)) + kb)
        buf.write(_zigzag(len(v)) + v)
    buf.write(_zigzag(0))
    buf.write(sync)
    for i in range(0, len(records), records_per_block):
        chunk = records[i : i + records_per_block]
        body = bytearray()
        for rec in chunk:
            _encode(schema, rec, body)
        payload = bytes(body)
        if codec == "deflate":
            comp = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = comp.compress(payload) + comp.flush()
        elif codec != "null":
            raise NotImplementedError(f"unsupported avro codec {codec!r}")
        buf.write(_zigzag(len(chunk)))
        buf.write(_zigzag(len(payload)))
        buf.write(payload)
        buf.write(sync)
    with open(path, "wb") as fh:
        fh.write(buf.getvalue())
