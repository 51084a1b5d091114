"""Avro source/sink WITHOUT the spark-avro DataSource jar
(SURVEY.md §2.B — the container ships Avro core jars but not the
`avro` DataSource module, and there is no network to fetch it).

This is a spec-derived reader for the Apache Avro OBJECT CONTAINER
FILE format (magic `Obj\\x01`, metadata map carrying the writer
schema JSON + codec, sync-marker-framed record blocks; values in
Avro binary encoding — zigzag varints, length-prefixed utf8/bytes,
IEEE little-endian floats), decoded in PYTHON over the `binaryFile`
source: one Arrow-batched `mapInPandas` lane per file, the same
declared-escape-hatch shape as the multimodal decoders. The decode
is per-file data-parallel — a directory of N avro part-files scans
as N independent tasks — but each record passes through Python, so
this is explicitly the NO-JAR FALLBACK: with spark-avro on the
classpath the reader collapses to
`spark.read.format("avro").load(path)` (one line, noted here so the
swap is obvious), and everything downstream is unchanged.

Scope (round 7 — what real-world Avro actually carries): top-level
record schemas over the primitives (null / boolean / int / long /
float / double / bytes / string), unions, the common LOGICAL types
(date over int, timestamp-millis/micros over long, decimal over
bytes or fixed), NESTED complex types (arrays, string-keyed maps,
records, enums, fixed — recursively), and codecs `null`, `deflate`
and `snappy`. Snappy is decoded by a PURE-PYTHON decompressor
(python-snappy is not in this container; the raw-snappy block
format — varint preamble + literal/copy tags — and Avro's
block-crc framing are both public specs), and the writer emits
literal-only snappy blocks, which every conformant decoder accepts.
Named-type REFERENCES (reusing an earlier record/enum/fixed by
name) are the one schema feature still guarded by a loud
NotImplementedError — never a silent skip.

The writer exists for round-trips and interchange tests: it encodes
partitions to container files with a deterministic sync marker
(md5 of schema + partition id) via foreachPartition, writing through
the local/DFS-mounted filesystem API.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import io
import json
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .files import read_binary_files

_MAGIC = b"Obj\x01"
_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_NAIVE = _dt.datetime(1970, 1, 1)
_UTC = _dt.timezone.utc


# ---------- pure-python snappy (raw format; public spec) ----------

def _snappy_decompress(buf: bytes) -> bytes:
    """Raw-snappy decode: little-endian-varint uncompressed length,
    then a tag stream of literals (tag&3==0) and back-references
    (1/2/4-byte offsets); overlapping copies replay byte-by-byte per
    the spec. Full decoder — reads anything a real compressor
    emits."""
    i, shift, ulen = 0, 0, 0
    while True:
        b = buf[i]
        i += 1
        ulen |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    out = bytearray()
    while i < len(buf):
        tag = buf[i]
        i += 1
        kind = tag & 3
        if kind == 0:                          # literal
            ln = (tag >> 2) + 1
            if ln > 60:
                nb = ln - 60
                ln = int.from_bytes(buf[i:i + nb], "little") + 1
                i += nb
            out += buf[i:i + ln]
            i += ln
            continue
        if kind == 1:                          # copy, 1-byte offset
            ln = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | buf[i]
            i += 1
        elif kind == 2:                        # copy, 2-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(buf[i:i + 2], "little")
            i += 2
        else:                                  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(buf[i:i + 4], "little")
            i += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: bad copy offset")
        for _ in range(ln):                    # may overlap itself
            out.append(out[-off])
    if len(out) != ulen:
        raise ValueError(
            f"snappy: declared {ulen} bytes, produced {len(out)}")
    return bytes(out)


def _snappy_compress_literals(data: bytes) -> bytes:
    """Valid snappy stream using literal tags only (no matching) —
    the simplest conformant encoder; any decoder, including the
    reference C++ one, accepts it. Used by the no-jar writer."""
    out = bytearray()
    v = len(data)
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            break
    i = 0
    while i < len(data):
        chunk = data[i:i + 65536]
        ln = len(chunk) - 1
        if ln < 60:
            out.append(ln << 2)
        elif ln < (1 << 8):
            out.append(60 << 2)
            out.append(ln)
        else:
            out.append(61 << 2)
            out += ln.to_bytes(2, "little")
        out += chunk
        i += len(chunk)
    return bytes(out)

_AVRO_OF_SPARK = {
    "boolean": "boolean", "integer": "int", "long": "long",
    "float": "float", "double": "double", "string": "string",
    "binary": "bytes",
}


# ---------- binary decoding (Avro spec, public) ----------

class _Reader:
    __slots__ = ("b", "i")

    def __init__(self, b: bytes):
        self.b, self.i = b, 0

    def read(self, n: int) -> bytes:
        out = self.b[self.i:self.i + n]
        if len(out) != n:
            raise EOFError("truncated avro data")
        self.i += n
        return out

    def at_end(self) -> bool:
        return self.i >= len(self.b)

    def long(self) -> int:
        shift, acc = 0, 0
        while True:
            byte = self.b[self.i]
            self.i += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)        # zigzag

    def _blocks(self):
        """Iterate item counts of a block-encoded array/map: each
        block is (count, items...); a NEGATIVE count is followed by
        the block's byte size (skippability hint); 0 terminates."""
        while True:
            n = self.long()
            if n == 0:
                return
            if n < 0:
                n = -n
                self.long()                    # block byte size
            yield n

    def value(self, typ):
        if isinstance(typ, list):              # union
            return self.value(typ[self.long()])
        if isinstance(typ, dict):
            lt = typ.get("logicalType")
            base = typ["type"]
            if lt == "date" and base == "int":
                return _EPOCH_DATE + _dt.timedelta(days=self.long())
            if lt in ("timestamp-micros", "timestamp-millis") \
                    and base == "long":
                v = self.long()
                us = v if lt == "timestamp-micros" else v * 1000
                # avro timestamps are UTC instants; tz-aware values
                # survive any spark session timezone
                return (_EPOCH_NAIVE + _dt.timedelta(microseconds=us)
                        ).replace(tzinfo=_UTC)
            if lt == "decimal" and base in ("bytes", "fixed"):
                raw = (self.read(typ["size"]) if base == "fixed"
                       else self.read(self.long()))
                unscaled = int.from_bytes(raw, "big", signed=True)
                return _decimal.Decimal(unscaled).scaleb(
                    -typ.get("scale", 0))
            if base == "array":
                items, out = typ["items"], []
                for n in self._blocks():
                    for _ in range(n):
                        out.append(self.value(items))
                return out
            if base == "map":
                vt, out = typ["values"], {}
                for n in self._blocks():
                    for _ in range(n):
                        k = self.read(self.long()).decode("utf-8")
                        out[k] = self.value(vt)
                return out
            if base == "record":
                return {f["name"]: self.value(f["type"])
                        for f in typ["fields"]}
            if base == "enum":
                return typ["symbols"][self.long()]
            if base == "fixed":
                return bytes(self.read(typ["size"]))
            return self.value(base)            # {"type": "string"}
        if typ == "null":
            return None
        if typ == "boolean":
            return self.read(1) != b"\x00"
        if typ in ("int", "long"):
            return self.long()
        if typ == "float":
            return struct.unpack("<f", self.read(4))[0]
        if typ == "double":
            return struct.unpack("<d", self.read(8))[0]
        if typ == "bytes":
            return bytes(self.read(self.long()))
        if typ == "string":
            return self.read(self.long()).decode("utf-8")
        raise NotImplementedError(
            f"avro type not supported by the no-jar reader: {typ!r} "
            "(named-type references are the known gap)")


def _decode_container(raw: bytes) -> tuple[list[str], list[list]]:
    """One container file -> (writer field names, rows)."""
    r = _Reader(raw)
    if r.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file "
                         "(bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:                   # negative count: block size follows
            n = -n
            r.long()
        for _ in range(n):
            key = r.read(r.long()).decode("utf-8")
            meta[key] = bytes(r.read(r.long()))
    sync = r.read(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if schema.get("type") != "record":
        raise NotImplementedError(
            "no-jar reader expects a top-level record schema")
    if codec not in ("null", "deflate", "snappy"):
        raise NotImplementedError(f"avro codec not supported: {codec}")
    fields = schema["fields"]
    names = [f["name"] for f in fields]
    rows: list[list] = []
    while not r.at_end():
        n_rec = r.long()
        blob = bytes(r.read(r.long()))
        if codec == "deflate":
            blob = zlib.decompress(blob, -15)   # raw DEFLATE
        elif codec == "snappy":
            # avro snappy framing: compressed data + 4-byte
            # BIG-ENDIAN CRC32 of the UNCOMPRESSED bytes
            data, crc = blob[:-4], blob[-4:]
            blob = _snappy_decompress(data)
            if zlib.crc32(blob) & 0xFFFFFFFF != int.from_bytes(
                    crc, "big"):
                raise ValueError("avro snappy block CRC mismatch")
        br = _Reader(blob)
        for _ in range(n_rec):
            rows.append([br.value(f["type"]) for f in fields])
        if r.read(16) != sync:
            raise ValueError("avro sync marker mismatch "
                             "(corrupt block framing)")
    return names, rows


def read_avro(spark: SparkSession, path: str, schema: StructType,
              glob: str | None = "*.avro") -> DataFrame:
    """Explicit-schema Avro reader over binaryFile + mapInPandas.
    Declared columns must exist in each file's writer schema (a
    missing column raises naming it); extra writer columns are
    pruned. With spark-avro on the classpath this whole function is
    `spark.read.format("avro").schema(schema).load(path)`."""
    import pandas as pd

    want = [f.name for f in schema.fields]

    def decode(batches):
        for pdf in batches:
            for raw in pdf["content"]:
                names, rows = _decode_container(bytes(raw))
                missing = [c for c in want if c not in names]
                if missing:
                    raise ValueError(
                        f"declared column(s) {missing} not in avro "
                        f"writer schema {names}")
                idx = [names.index(c) for c in want]
                yield pd.DataFrame(
                    {c: [row[j] for row in rows]
                     for c, j in zip(want, idx)},
                    dtype=object)

    binary = read_binary_files(spark, path, glob).select("content")
    return binary.mapInPandas(decode, schema=schema)


# ---------- encoding (writer for round-trips) ----------

def _zigzag(out: io.BytesIO, v: int) -> None:
    v = (v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1 | 1)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def _encode_value(out: io.BytesIO, typ, v) -> None:
    if isinstance(typ, list):                   # ["null", T]
        if v is None:
            _zigzag(out, typ.index("null"))
            return
        branch = 1 - typ.index("null")
        _zigzag(out, branch)
        typ = typ[branch]
    if isinstance(typ, dict):
        lt = typ.get("logicalType")
        base = typ["type"]
        if lt == "date":
            _zigzag(out, (v - _EPOCH_DATE).days)
            return
        if lt == "timestamp-micros":
            # naive session datetimes encode wall-clock-as-UTC (the
            # reader returns tz-aware UTC; round-trips compare equal
            # under a UTC session timezone, documented)
            if v.tzinfo is not None:
                v = v.astimezone(_UTC).replace(tzinfo=None)
            delta = v - _EPOCH_NAIVE
            _zigzag(out, (delta.days * 86_400_000_000
                          + delta.seconds * 1_000_000
                          + delta.microseconds))
            return
        if lt == "decimal":
            scale = typ.get("scale", 0)
            unscaled = int(v.scaleb(scale).to_integral_value())
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
            raw = unscaled.to_bytes(nbytes, "big", signed=True)
            _zigzag(out, len(raw))
            out.write(raw)
            return
        if base == "array":
            v = list(v)
            if v:
                _zigzag(out, len(v))
                for item in v:
                    _encode_value(out, typ["items"], item)
            _zigzag(out, 0)
            return
        if base == "map":
            v = dict(v)
            if v:
                _zigzag(out, len(v))
                for k in sorted(v):            # deterministic bytes
                    ke = k.encode("utf-8")
                    _zigzag(out, len(ke))
                    out.write(ke)
                    _encode_value(out, typ["values"], v[k])
            _zigzag(out, 0)
            return
        if base == "record":
            if hasattr(v, "asDict"):
                v = v.asDict()
            for f in typ["fields"]:
                _encode_value(out, f["type"], v[f["name"]])
            return
        raise NotImplementedError(
            f"avro type not supported by the writer: {typ!r}")
    if typ == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif typ in ("int", "long"):
        _zigzag(out, int(v))
    elif typ == "float":
        out.write(struct.pack("<f", float(v)))
    elif typ == "double":
        out.write(struct.pack("<d", float(v)))
    elif typ == "bytes":
        _zigzag(out, len(v))
        out.write(bytes(v))
    elif typ == "string":
        enc = v.encode("utf-8")
        _zigzag(out, len(enc))
        out.write(enc)
    else:
        raise NotImplementedError(
            f"avro type not supported by the writer: {typ!r}")


def _avro_type_of(dt, path: str, rec_names: list) -> object:
    """Spark DataType -> avro schema fragment (recursive)."""
    tn = dt.typeName()
    if tn in _AVRO_OF_SPARK:
        return _AVRO_OF_SPARK[tn]
    if tn == "date":
        return {"type": "int", "logicalType": "date"}
    if tn == "timestamp":
        return {"type": "long", "logicalType": "timestamp-micros"}
    if tn == "decimal":
        return {"type": "bytes", "logicalType": "decimal",
                "precision": dt.precision, "scale": dt.scale}
    if tn == "array":
        inner = _avro_type_of(dt.elementType, path + ".item",
                              rec_names)
        return {"type": "array",
                "items": (["null", inner] if dt.containsNull
                          else inner)}
    if tn == "map":
        if dt.keyType.typeName() != "string":
            raise NotImplementedError(
                f"column {path}: avro maps require string keys")
        inner = _avro_type_of(dt.valueType, path + ".value",
                              rec_names)
        return {"type": "map",
                "values": (["null", inner] if dt.valueContainsNull
                           else inner)}
    if tn == "struct":
        rec_names.append(path)
        nm = f"rec_{len(rec_names)}"           # unique record names
        return {"type": "record", "name": nm, "fields": [
            {"name": f.name,
             "type": (["null",
                       _avro_type_of(f.dataType,
                                     f"{path}.{f.name}", rec_names)]
                      if f.nullable
                      else _avro_type_of(f.dataType,
                                         f"{path}.{f.name}",
                                         rec_names))}
            for f in dt.fields]}
    raise NotImplementedError(
        f"column {path}: spark type {tn} has no avro mapping in "
        "the no-jar writer")


def _avro_schema_of(schema: StructType, name: str) -> dict:
    fields = []
    rec_names: list = []     # shared: nested record names stay unique
    for f in schema.fields:
        t = _avro_type_of(f.dataType, f.name, rec_names)
        fields.append({"name": f.name,
                       "type": ["null", t] if f.nullable else t})
    return {"type": "record", "name": name, "fields": fields}


def write_avro_files(df: DataFrame, out_dir: str,
                     codec: str = "null") -> dict:
    """Encode each partition as one `part-{pid:05d}.avro` container
    file under out_dir (local/DFS-mounted path). Deterministic sync
    marker = md5(schema JSON + pid). Returns the avro schema dict."""
    import hashlib
    import os

    if codec not in ("null", "deflate", "snappy"):
        raise NotImplementedError(f"avro codec not supported: {codec}")
    avsc = _avro_schema_of(df.schema, "spark_row")
    schema_json = json.dumps(avsc)
    types = [f["type"] for f in avsc["fields"]]
    names = [f["name"] for f in avsc["fields"]]
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(pid: int, rows) -> None:
        body = io.BytesIO()
        n = 0
        for row in rows:
            for nm, t in zip(names, types):
                _encode_value(body, t, row[nm])
            n += 1
        if n == 0:
            return
        payload = body.getvalue()
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        elif codec == "snappy":
            payload = (_snappy_compress_literals(payload)
                       + (zlib.crc32(payload) & 0xFFFFFFFF)
                       .to_bytes(4, "big"))
        sync = hashlib.md5(
            (schema_json + str(pid)).encode()).digest()
        out = io.BytesIO()
        out.write(_MAGIC)
        _zigzag(out, 2)
        for k, v in (("avro.schema", schema_json.encode()),
                     ("avro.codec", codec.encode())):
            ke = k.encode()
            _zigzag(out, len(ke))
            out.write(ke)
            _zigzag(out, len(v))
            out.write(v)
        _zigzag(out, 0)
        out.write(sync)
        _zigzag(out, n)
        _zigzag(out, len(payload))
        out.write(payload)
        out.write(sync)
        with open(os.path.join(out_dir, f"part-{pid:05d}.avro"),
                  "wb") as fh:
            fh.write(out.getvalue())

    df.rdd.mapPartitionsWithIndex(
        lambda pid, it: (write_partition(pid, it), iter(()))[1],
        preservesPartitioning=True).count()
    return avsc
