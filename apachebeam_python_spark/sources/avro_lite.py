"""Pure-Python Avro Object Container File source/sink (SURVEY §2.1,
ReadFromAvro / WriteToAvro) — no spark-avro jar, no external codec.

The container environment lacks the spark-avro datasource jar, so this
module implements the Avro 1.x container format directly from the public
specification (https://avro.apache.org/docs/current/specification/):

- file header: magic ``Obj\\x01`` + metadata map (``avro.schema`` JSON,
  ``avro.codec``) + 16-byte sync marker;
- data blocks: object count (varint long), serialized size (varint long),
  the binary-encoded records, sync marker;
- binary encoding: zigzag-varint longs, length-prefixed UTF-8 strings,
  IEEE little-endian doubles, record fields in schema order;
- codecs: ``null`` (uncompressed), ``deflate`` (raw RFC-1951 via stdlib
  zlib, per the spec: no zlib header, no checksum), and ``bzip2``
  (stdlib bz2) — three of the spec's codec registry, all stdlib.

Supported field types: ``long``, ``double``, ``string``, and their
``["null", T]`` unions — the subset the fixture tables (and most analytics
interchange) need. Production swaps this for the spark-avro datasource with
no query changes (``read_avro``/``write_avro`` keep the DataFrame contract).

Spark plumbing (the part that matters at 100 TB): the WRITER runs inside
``mapInPandas`` — each task serializes ITS OWN partitions to
``part-<uuid>.avro`` files, so encoding parallelizes with the data and no
bytes gather on the driver (task-unique names stand in for the rename-commit
protocol of a production sink). The READER lists files via Spark's
``binaryFile`` source (splittable listing, one file per row) and decodes in
``mapInPandas`` — Arrow-batched, schema declared up front so downstream
projection prunes.
"""

from __future__ import annotations

import json
import os
import struct
import bz2
import uuid
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

_MAGIC = b"Obj\x01"
#: deterministic sync marker — writers are reproducible byte-for-byte
_SYNC = bytes(range(16))

_SPARK_TO_AVRO = {"bigint": "long", "double": "double", "string": "string"}
_AVRO_TO_SPARK = {"long": "bigint", "double": "double", "string": "string"}


# --------------------------------------------------------------------------
# binary primitives (Avro spec §binary encoding)
# --------------------------------------------------------------------------
def _enc_long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)  # zigzag
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    n = len(buf)
    while True:
        # explicit bounds check: a corrupt stream must raise, not wrap into
        # Python's negative indexing and spin the block loop forever
        if pos < 0 or pos >= n:
            raise ValueError("truncated or corrupt Avro varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("Avro varint exceeds 64 bits")
    return (acc >> 1) ^ -(acc & 1), pos  # un-zigzag


def _enc_str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _enc_long(len(raw)) + raw


def _dec_str(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = _dec_long(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("truncated or corrupt Avro string")
    return buf[pos : pos + n].decode("utf-8"), pos + n


def _avro_schema(spark_schema) -> dict:
    fields = []
    for f in spark_schema.fields:
        t = _SPARK_TO_AVRO.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(
                f"avro_lite supports long/double/string, got "
                f"{f.dataType.simpleString()!r} for field {f.name!r}"
            )
        fields.append({"name": f.name, "type": ["null", t] if f.nullable else t})
    return {"type": "record", "name": "Row", "fields": fields}


def _field_types(avro_schema: dict) -> list[tuple[str, str, bool]]:
    """(name, base type, nullable) per field, union-normalized."""
    out = []
    for f in avro_schema["fields"]:
        t = f["type"]
        if isinstance(t, list):  # ["null", T]
            base = next(x for x in t if x != "null")
            out.append((f["name"], base, True))
        else:
            out.append((f["name"], t, False))
    return out


def _decode_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse just the container header → (schema, codec, sync, pos-after-
    header). O(header bytes) — never touches the data blocks, so schema
    peeks stay cheap on multi-hundred-MB part-files."""
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _dec_long(data, pos)
        if count == 0:
            break
        if count < 0:
            # spec: negative block count ⇒ ONE byte-size long for the whole
            # block precedes the abs(count) key/value items
            count = -count
            _, pos = _dec_long(data, pos)
        for _ in range(count):
            k, pos = _dec_str(data, pos)
            n, pos = _dec_long(data, pos)
            if n < 0 or pos + n > len(data):
                raise ValueError("truncated or corrupt Avro metadata value")
            meta[k] = data[pos : pos + n]
            pos += n
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate", "bzip2"):
        raise ValueError(
            f"avro_lite reads codecs null/deflate/bzip2, got {codec!r}"
        )
    sync = data[pos : pos + 16]
    pos += 16
    return schema, codec, sync, pos


def _read_header(path: str) -> dict:
    """Schema from a container file by reading a bounded prefix — grows the
    read window only if the metadata map spills past it (never the rows)."""
    size, window = os.path.getsize(path), 1 << 16
    while True:
        with open(path, "rb") as fh:
            prefix = fh.read(min(window, size))
        try:
            schema, _, _, _ = _decode_header(prefix)
            return schema
        except (ValueError, IndexError, KeyError):
            if window >= size:
                raise
            window *= 16


def _decode_blocks(data: bytes) -> tuple[dict, list[dict]]:
    """Parse one container file → (schema, rows)."""
    schema, codec, sync, pos = _decode_header(data)
    fields = _field_types(schema)
    rows: list[dict] = []
    while pos < len(data):
        n_obj, pos = _dec_long(data, pos)
        size, pos = _dec_long(data, pos)
        if n_obj < 0 or size < 0 or pos + size > len(data):
            raise ValueError("corrupt Avro data block header")
        if codec != "null":
            raw_block = data[pos : pos + size]
            block = (
                zlib.decompress(raw_block, -15)
                if codec == "deflate"
                else bz2.decompress(raw_block)
            )
            sync_at = pos + size
            _outer, data, pos = data, block, 0
        for _ in range(n_obj):
            row = {}
            for name, base, nullable in fields:
                if nullable:
                    branch, pos = _dec_long(data, pos)
                    if branch == 0:
                        row[name] = None
                        continue
                if base == "long":
                    row[name], pos = _dec_long(data, pos)
                elif base == "double":
                    row[name] = struct.unpack("<d", data[pos : pos + 8])[0]
                    pos += 8
                else:
                    row[name], pos = _dec_str(data, pos)
            rows.append(row)
        if codec != "null":
            data, pos = _outer, sync_at  # restore the container stream
        if data[pos : pos + 16] != sync:
            raise ValueError("Avro sync marker mismatch (corrupt or truncated)")
        pos += 16
    return schema, rows


# --------------------------------------------------------------------------
# DataFrame contract
# --------------------------------------------------------------------------
def write_avro(df: DataFrame, path: str, codec: str = "null") -> None:
    """Write ``df`` as Avro container part-files under ``path``. ``codec``
    is ``null``, ``deflate`` (raw RFC-1951, spec-conform) or ``bzip2``.
    Encoding runs task-side in ``mapInPandas`` — parallel with the data,
    nothing gathers on the driver; each task writes ``part-<uuid>.avro``
    (a production sink adds the rename-commit step)."""
    if codec not in ("null", "deflate", "bzip2"):
        raise ValueError(
            f"codec must be 'null', 'deflate', or 'bzip2', got {codec!r}"
        )
    os.makedirs(path, exist_ok=True)
    header, fields = _header_for_spark_schema(df.schema, codec)

    def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        body = bytearray()
        n_rows = 0
        for pdf in batches:
            if len(pdf):
                enc = _encode_rows_py(pdf.itertuples(index=False, name=None), fields)
                if codec == "deflate":
                    c = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
                    enc = c.compress(enc) + c.flush()
                elif codec == "bzip2":
                    enc = bz2.compress(enc)
                body += _enc_long(len(pdf)) + _enc_long(len(enc)) + enc + _SYNC
                n_rows += len(pdf)
        if n_rows:
            fname = os.path.join(path, f"part-{uuid.uuid4().hex}.avro")
            with open(fname, "wb") as fh:
                fh.write(header + bytes(body))
        yield pd.DataFrame({"rows_written": [n_rows]})

    df.mapInPandas(sink, schema="rows_written long").agg(
        {"rows_written": "sum"}
    ).collect()


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Read Avro container files under ``path``: Spark's ``binaryFile``
    source lists and distributes files (one per task), ``mapInPandas``
    decodes — Arrow-batched, declared output schema so projection prunes.
    The schema is read from the FIRST file's metadata (driver-side peek at
    one header, not a data scan)."""
    first = next(
        os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".avro")
    )
    schema = _read_header(first)  # header-only peek, O(KB) not O(file)
    fields = _field_types(schema)
    out_schema = ", ".join(f"{n} {_AVRO_TO_SPARK[t]}" for n, t, _ in fields)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                _, rows = _decode_blocks(bytes(blob))
                yield pd.DataFrame(
                    rows, columns=[n for n, _, _ in fields]
                )

    files = spark.read.format("binaryFile").load(os.path.join(path, "*.avro"))
    return files.select("content").mapInPandas(decode, schema=out_schema)


def _header_for_spark_schema(spark_schema, codec: str = "null") -> tuple[bytes, list]:
    """(container header bytes, union-normalized field list) for a Spark
    StructType — shared by write_avro and the Python DataSource writer."""
    schema = _avro_schema(spark_schema)
    header = (
        _MAGIC
        + _enc_long(2)
        + _enc_str("avro.schema")
        + _enc_str(json.dumps(schema))
        + _enc_str("avro.codec")
        + _enc_str(codec)
        + _enc_long(0)
        + _SYNC
    )
    return header, _field_types(schema)


def _encode_rows_py(rows, fields) -> bytes:
    """Encode an iterable of records (Rows or tuples, values in field
    order) — shared by write_avro and the Python DataSource writer."""
    buf = bytearray()
    for row in rows:
        for v, (_, base, nullable) in zip(row, fields):
            is_null = v is None or (isinstance(v, float) and v != v)
            if nullable:
                if is_null:
                    buf += _enc_long(0)  # union branch 0 = null
                    continue
                buf += _enc_long(1)  # union branch 1 = value
            if base == "long":
                buf += _enc_long(int(v))
            elif base == "double":
                buf += struct.pack("<d", float(v))
            else:
                buf += _enc_str(str(v))
    return bytes(buf)
