"""Avro Object Container File source & sink, from scratch on the stdlib.

The ``spark-avro`` jar is absent in this environment (see ``orcx.py``), so —
like the stdlib OLE2/BIFF8 Excel reader (``excelx.py``, SURVEY S6) — this
module implements the PUBLIC Avro 1.11 container spec directly:

* header: magic ``Obj\\x01`` + metadata map (``avro.schema`` JSON,
  ``avro.codec``) + a 16-byte sync marker;
* each data block: zigzag-varint record count + byte size + serialized
  records (raw-DEFLATE compressed for codec ``deflate``) + the sync marker.

**Scale design.**  Reading is split-parallel exactly like Hadoop's Avro
input format: the driver reads only the tiny header; the file then splits
into byte ranges, one task per range (the fan-out in ``ranges.py``, shared
with the OSM reader), and each task seeks to its range and scans forward for
the sync marker to find its first block boundary (a block is owned by the
task whose range contains the block's *preceding* sync marker, so every
block is decoded exactly once).  Decoding runs in ``mapInArrow``: one
Python pass per block builds one Arrow record batch, no driver collect.  A
false sync match inside block data is possible with probability 2^-128 per
position — the same trade Hadoop's splitter makes.

Writing mirrors it: each partition encodes itself into one container file
under the target directory (``part-*.avro``), so the sink is as parallel
as the upstream plan; on a cluster with the jar deployed you'd use
``df.write.format("avro")`` instead and nothing in this repo needs to
change.

Type coverage: all Avro primitives, ``record`` / ``enum`` / ``fixed`` /
``array`` / ``map`` / nullable unions, and the ``date`` /
``timestamp-micros`` / ``timestamp-millis`` / ``decimal`` logical types.
General (multi-branch non-null) unions have no Spark analogue: they raise
by default (naming the field path), or map to a struct-of-nullables with
``read_avro(..., general_unions="struct")``.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from glob import glob
from typing import Any, Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.ranges import (
    file_ranges,
    map_ranges,
)

_MAGIC = b"Obj\x01"
_EPOCH_DATE_ORD = 719163  # datetime.date(1970, 1, 1).toordinal()


# ---------------------------------------------------------------- varints


def _read_long(mv, pos: int) -> tuple[int, int]:
    """Zigzag-encoded variable-length long."""
    n = 0
    shift = 0
    while True:
        b = mv[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (n >> 1) ^ -(n & 1), pos


def _write_long(out: bytearray, v: int) -> None:
    n = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


# ---------------------------------------------------------------- header


def _parse_header(f) -> tuple[dict[str, bytes], bytes, int]:
    """Read the container header: (metadata, sync_marker, header_len).

    The buffer grows on demand, so a metadata block (schema JSON) larger
    than the initial 64 KiB read parses correctly instead of truncating;
    a header that ends mid-field raises explicitly."""
    buf = bytearray(f.read(1 << 16))

    def ensure(end: int) -> None:
        while len(buf) < end:
            more = f.read(max(end - len(buf), 1 << 16))
            if not more:
                raise ValueError("truncated Avro header (unexpected EOF)")
            buf.extend(more)

    ensure(4)
    if bytes(buf[:4]) != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")

    def read_long_at(pos: int) -> tuple[int, int]:
        ensure(pos + 1)
        while True:
            try:
                return _read_long(buf, pos)
            except IndexError:
                ensure(len(buf) + 1)

    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = read_long_at(pos)
        if count == 0:
            break
        if count < 0:  # block with byte-size prefix
            count = -count
            _, pos = read_long_at(pos)
        for _ in range(count):
            klen, pos = read_long_at(pos)
            ensure(pos + klen)
            key = bytes(buf[pos : pos + klen]).decode("utf-8")
            pos += klen
            vlen, pos = read_long_at(pos)
            ensure(pos + vlen)
            meta[key] = bytes(buf[pos : pos + vlen])
            pos += vlen
    ensure(pos + 16)
    sync = bytes(buf[pos : pos + 16])
    return meta, sync, pos + 16


# ------------------------------------------------- schema -> Spark + decoder

Decoder = Callable[[Any, int], tuple[Any, int]]


def _resolve(sch: Any, names: dict[str, Any]) -> Any:
    if isinstance(sch, str) and sch in names:
        return names[sch]
    return sch


def _branch_name(s: Any) -> str:
    """Union-branch field name, following Avro's JSON-encoding convention:
    the full name for named types, the type keyword otherwise."""
    if isinstance(s, dict):
        if s["type"] in ("record", "enum", "fixed"):
            return s["name"]
        return s["type"]  # array / map / logical-typed primitive
    return s


def _avro_to_spark(
    sch: Any,
    names: dict[str, Any],
    path: str = "$",
    union_mode: str = "error",
) -> T.DataType:
    sch = _resolve(sch, names)
    if isinstance(sch, list):  # union
        non_null = [s for s in sch if s != "null"]
        if len(non_null) != 1:
            if union_mode == "struct":
                # struct-of-nullables: one nullable field per branch, named
                # per the Avro JSON encoding (branch names are unique by
                # spec — a union cannot hold two schemas of the same type)
                return T.StructType(
                    [
                        T.StructField(
                            _branch_name(s),
                            _avro_to_spark(
                                s, names, f"{path}.{_branch_name(s)}", union_mode
                            ),
                            True,
                        )
                        for s in non_null
                    ]
                )
            raise ValueError(
                f"general Avro unions unsupported at field {path!r}: {sch!r} "
                "(only [\"null\", T] unions map to a Spark type; pass "
                "general_unions='struct' for a struct-of-nullables "
                "representation)"
            )
        return _avro_to_spark(non_null[0], names, path, union_mode)
    if isinstance(sch, dict):
        t = sch["type"]
        lt = sch.get("logicalType")
        if t == "int" and lt == "date":
            return T.DateType()
        if t == "long" and lt in ("timestamp-micros", "timestamp-millis"):
            return T.TimestampType()
        if t in ("bytes", "fixed") and lt == "decimal":
            return T.DecimalType(sch["precision"], sch.get("scale", 0))
        if t == "record":
            names[sch["name"]] = sch
            return T.StructType(
                [
                    T.StructField(
                        fld["name"],
                        _avro_to_spark(
                            fld["type"], names, f"{path}.{fld['name']}", union_mode
                        ),
                        True,
                    )
                    for fld in sch["fields"]
                ]
            )
        if t == "enum":
            names[sch["name"]] = sch
            return T.StringType()
        if t == "fixed":
            names[sch["name"]] = sch
            return T.BinaryType()
        if t == "array":
            return T.ArrayType(
                _avro_to_spark(sch["items"], names, f"{path}[]", union_mode), True
            )
        if t == "map":
            return T.MapType(
                T.StringType(),
                _avro_to_spark(sch["values"], names, f"{path}{{}}", union_mode),
                True,
            )
        # wrapped primitive / named ref
        return _avro_to_spark(t, names, path, union_mode)
    prim = {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
    }
    if sch not in prim:
        raise ValueError(f"unknown Avro type at field {path!r}: {sch!r}")
    return prim[sch]


def _make_decoder(
    sch: Any, names: dict[str, Any], union_mode: str = "error"
) -> Decoder:
    """Compile an Avro schema node into a ``(buf, pos) -> (value, pos)``
    decoder closure (built once per task, not per record)."""
    import datetime as dt

    sch = _resolve(sch, names)
    if isinstance(sch, list):  # union: varint branch index
        branches = [_make_decoder(s, names, union_mode) for s in sch]
        non_null = [s for s in sch if s != "null"]
        if len(non_null) > 1 and union_mode == "struct":
            # struct-of-nullables: the taken branch fills its field, the
            # rest stay null; the null branch is the whole struct null
            field_names = [_branch_name(s) for s in non_null]
            idx_to_field = [
                None if s == "null" else _branch_name(s) for s in sch
            ]

            def d_union_struct(mv, pos):
                idx, pos = _read_long(mv, pos)
                fname = idx_to_field[idx]
                if fname is None:
                    return None, pos
                v, pos = branches[idx](mv, pos)
                return {n: (v if n == fname else None) for n in field_names}, pos

            return d_union_struct

        def d_union(mv, pos):
            idx, pos = _read_long(mv, pos)
            return branches[idx](mv, pos)

        return d_union
    if isinstance(sch, dict):
        t = sch["type"]
        lt = sch.get("logicalType")
        if t == "int" and lt == "date":

            def d_date(mv, pos):
                v, pos = _read_long(mv, pos)
                return dt.date.fromordinal(_EPOCH_DATE_ORD + v), pos

            return d_date
        if t == "long" and lt in ("timestamp-micros", "timestamp-millis"):
            scale = 1 if lt == "timestamp-micros" else 1000
            epoch = dt.datetime(1970, 1, 1)

            def d_ts(mv, pos):
                v, pos = _read_long(mv, pos)
                return epoch + dt.timedelta(microseconds=v * scale), pos

            return d_ts
        if t in ("bytes", "fixed") and lt == "decimal":
            import decimal

            scale = sch.get("scale", 0)
            if t == "fixed":
                names[sch["name"]] = sch
                size = sch["size"]

                def d_decf(mv, pos):
                    unscaled = int.from_bytes(mv[pos : pos + size], "big", signed=True)
                    return decimal.Decimal(unscaled).scaleb(-scale), pos + size

                return d_decf

            def d_dec(mv, pos):
                ln, pos = _read_long(mv, pos)
                unscaled = int.from_bytes(mv[pos : pos + ln], "big", signed=True)
                return decimal.Decimal(unscaled).scaleb(-scale), pos + ln

            return d_dec
        if t == "record":
            names[sch["name"]] = sch
            fields = [(f["name"], _make_decoder(f["type"], names, union_mode)) for f in sch["fields"]]

            def d_rec(mv, pos):
                row = {}
                for name, dec in fields:
                    row[name], pos = dec(mv, pos)
                return row, pos

            return d_rec
        if t == "enum":
            names[sch["name"]] = sch
            symbols = sch["symbols"]

            def d_enum(mv, pos):
                i, pos = _read_long(mv, pos)
                return symbols[i], pos

            return d_enum
        if t == "fixed":
            names[sch["name"]] = sch
            size = sch["size"]

            def d_fixed(mv, pos):
                return bytes(mv[pos : pos + size]), pos + size

            return d_fixed
        if t == "array":
            item = _make_decoder(sch["items"], names, union_mode)

            def d_arr(mv, pos):
                out = []
                while True:
                    count, pos = _read_long(mv, pos)
                    if count == 0:
                        return out, pos
                    if count < 0:  # block size prefix follows
                        count = -count
                        _, pos = _read_long(mv, pos)
                    for _ in range(count):
                        v, pos = item(mv, pos)
                        out.append(v)

            return d_arr
        if t == "map":
            val = _make_decoder(sch["values"], names, union_mode)

            def d_map(mv, pos):
                out = {}
                while True:
                    count, pos = _read_long(mv, pos)
                    if count == 0:
                        return out, pos
                    if count < 0:
                        count = -count
                        _, pos = _read_long(mv, pos)
                    for _ in range(count):
                        klen, pos = _read_long(mv, pos)
                        k = bytes(mv[pos : pos + klen]).decode("utf-8")
                        pos += klen
                        out[k], pos = val(mv, pos)

            return d_map
        return _make_decoder(t, names, union_mode)

    if sch == "null":
        return lambda mv, pos: (None, pos)
    if sch == "boolean":
        return lambda mv, pos: (mv[pos] == 1, pos + 1)
    if sch in ("int", "long"):
        return _read_long
    if sch == "float":
        return lambda mv, pos: (struct.unpack_from("<f", mv, pos)[0], pos + 4)
    if sch == "double":
        return lambda mv, pos: (struct.unpack_from("<d", mv, pos)[0], pos + 8)
    if sch == "bytes":

        def d_bytes(mv, pos):
            ln, pos = _read_long(mv, pos)
            return bytes(mv[pos : pos + ln]), pos + ln

        return d_bytes
    if sch == "string":

        def d_str(mv, pos):
            ln, pos = _read_long(mv, pos)
            return bytes(mv[pos : pos + ln]).decode("utf-8"), pos + ln

        return d_str
    raise ValueError(f"unknown Avro type: {sch!r}")


# ---------------------------------------------------------------- reading


def _scan_sync(f, start: int, sync: bytes, filesize: int) -> int | None:
    """First occurrence of ``sync`` at byte position >= start (chunked
    forward scan with a 15-byte overlap so boundary-spanning markers are
    found)."""
    chunk = 1 << 20
    pos = start
    tail = b""
    while pos < filesize:
        f.seek(pos)
        data = f.read(chunk)
        if not data:
            return None
        buf = tail + data
        idx = buf.find(sync)
        if idx != -1:
            return pos - len(tail) + idx
        tail = buf[-15:]
        pos += len(data)
    return None


def read_avro(
    spark: SparkSession,
    path: str,
    split_bytes: int = 32 << 20,
    general_unions: str = "error",
) -> DataFrame:
    """Scan one ``.avro`` container file or a directory of them into a
    DataFrame.  Driver work is header-only; blocks decode split-parallel
    in ``mapInArrow`` (see module docstring for the sync-scan ownership
    rule).  All files must share one schema.

    ``general_unions``: multi-branch non-null unions have no native Spark
    type — ``"error"`` (default) raises naming the offending field path;
    ``"struct"`` represents each as a struct of nullable branch fields
    (named per the Avro JSON encoding), where exactly the taken branch is
    non-null and a null branch value is the whole struct null."""
    if general_unions not in ("error", "struct"):
        raise ValueError(f"general_unions must be error/struct: {general_unions!r}")
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(glob(os.path.join(path, "*.avro")))
    )
    if not files:
        raise ValueError(f"no .avro files at {path!r}")
    schema_json: str | None = None
    for fp in files:
        with open(fp, "rb") as f:
            meta, _, _ = _parse_header(f)
            sj = meta["avro.schema"].decode("utf-8")
            codec = meta.get("avro.codec", b"null").decode()
            if codec not in ("null", "deflate"):
                raise ValueError(f"unsupported Avro codec: {codec!r}")
            if schema_json is None:
                schema_json = sj
            elif json.loads(sj) != json.loads(schema_json):
                raise ValueError(f"schema mismatch across files: {fp}")
    spark_schema = _avro_to_spark(json.loads(schema_json), {}, union_mode=general_unions)
    if not isinstance(spark_schema, T.StructType):
        raise ValueError("top-level Avro schema must be a record")
    arrow_schema = to_arrow_schema(spark_schema)

    def decode_range(fp: str, start: int, end: int, filesize: int) -> Iterator[pa.RecordBatch]:
        decoder = _make_decoder(json.loads(schema_json), {}, union_mode=general_unions)
        with open(fp, "rb") as f:
            meta, sync, header_len = _parse_header(f)
            codec = meta.get("avro.codec", b"null").decode()
            # ownership: this range decodes blocks whose PRECEDING
            # sync marker starts in [start, end)
            q = header_len - 16 if start == 0 else _scan_sync(f, start, sync, filesize)
            while q is not None and q < end and q + 16 < filesize:
                pos = q + 16
                f.seek(pos)
                mv = memoryview(f.read(20))  # two varints: count, size
                count, p = _read_long(mv, 0)
                size, p = _read_long(mv, p)
                f.seek(pos + p)
                data = f.read(size)
                if codec == "deflate":
                    data = zlib.decompress(data, -15)
                dmv = memoryview(data)
                rows = []
                dp = 0
                for _ in range(count):
                    row, dp = decoder(dmv, dp)
                    rows.append(row)
                if rows:
                    yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
                q = pos + p + size  # next sync sits right here
                f.seek(q)
                if f.read(16) != sync:
                    raise ValueError(f"corrupt Avro block in {fp} @ {q}")

    return map_ranges(spark, file_ranges(files, split_bytes), decode_range, spark_schema)


# ---------------------------------------------------------------- writing


def _spark_to_avro(dtype: T.DataType, name_seq: list[int]) -> Any:
    def nxt(prefix: str) -> str:
        name_seq[0] += 1
        return f"{prefix}{name_seq[0]}"

    if isinstance(dtype, T.StructType):
        return {
            "type": "record",
            "name": nxt("r"),
            "fields": [
                {"name": f.name, "type": ["null", _spark_to_avro(f.dataType, name_seq)]}
                for f in dtype.fields
            ],
        }
    if isinstance(dtype, T.ArrayType):
        return {"type": "array", "items": ["null", _spark_to_avro(dtype.elementType, name_seq)]}
    if isinstance(dtype, T.MapType):
        if not isinstance(dtype.keyType, T.StringType):
            raise ValueError("Avro maps require string keys")
        return {"type": "map", "values": ["null", _spark_to_avro(dtype.valueType, name_seq)]}
    if isinstance(dtype, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dtype, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dtype.precision,
            "scale": dtype.scale,
        }
    prim = {
        T.BooleanType: "boolean",
        T.ByteType: "int",
        T.ShortType: "int",
        T.IntegerType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.BinaryType: "bytes",
        T.StringType: "string",
    }
    for cls, av in prim.items():
        if isinstance(dtype, cls):
            return av
    raise ValueError(f"no Avro mapping for Spark type {dtype}")


def _make_encoder(dtype: T.DataType) -> Callable[[bytearray, Any], None]:
    """Spark type -> ``(out, value) -> None`` Avro binary encoder; every
    value is written as the ``["null", T]`` union (branch index first)."""
    import datetime as dt

    def null_union(enc):
        def e(out: bytearray, v: Any) -> None:
            if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
                out.append(0)  # union branch 0 = null  (zigzag(0) == 0)
                return
            out.append(2)  # union branch 1           (zigzag(1) == 2)
            enc(out, v)

        return e

    if isinstance(dtype, T.StructType):
        fields = [(f.name, _make_encoder(f.dataType)) for f in dtype.fields]

        def e_rec(out, v):
            get = v.get if isinstance(v, dict) else lambda k, _d=None: v[k]
            for name, enc in fields:
                enc(out, get(name))

        return null_union(e_rec)
    if isinstance(dtype, T.ArrayType):
        item = _make_encoder(dtype.elementType)

        def e_arr(out, v):
            vs = list(v)
            if vs:
                _write_long(out, len(vs))
                for x in vs:
                    item(out, x)
            _write_long(out, 0)

        return null_union(e_arr)
    if isinstance(dtype, T.MapType):
        val = _make_encoder(dtype.valueType)

        def e_map(out, v):
            items = list(v.items())
            if items:
                _write_long(out, len(items))
                for k, x in items:
                    kb = str(k).encode("utf-8")
                    _write_long(out, len(kb))
                    out.extend(kb)
                    val(out, x)
            _write_long(out, 0)

        return null_union(e_map)
    if isinstance(dtype, T.DateType):
        return null_union(
            lambda out, v: _write_long(out, v.toordinal() - _EPOCH_DATE_ORD)
        )
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        epoch = dt.datetime(1970, 1, 1)

        def e_ts(out, v):
            if isinstance(v, pd.Timestamp):
                us = v.value // 1000
            else:
                delta = v - epoch
                us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
            _write_long(out, us)

        return null_union(e_ts)
    if isinstance(dtype, T.DecimalType):
        scale = dtype.scale

        def e_dec(out, v):
            unscaled = int(v.scaleb(scale).to_integral_value())
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
            b = unscaled.to_bytes(nbytes, "big", signed=True)
            _write_long(out, len(b))
            out.extend(b)

        return null_union(e_dec)
    if isinstance(dtype, T.BooleanType):
        return null_union(lambda out, v: out.append(1 if v else 0))
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return null_union(lambda out, v: _write_long(out, int(v)))
    if isinstance(dtype, (T.FloatType,)):
        return null_union(lambda out, v: out.extend(struct.pack("<f", float(v))))
    if isinstance(dtype, T.DoubleType):
        return null_union(lambda out, v: out.extend(struct.pack("<d", float(v))))
    if isinstance(dtype, T.BinaryType):

        def e_bin(out, v):
            b = bytes(v)
            _write_long(out, len(b))
            out.extend(b)

        return null_union(e_bin)
    if isinstance(dtype, T.StringType):

        def e_str(out, v):
            b = str(v).encode("utf-8")
            _write_long(out, len(b))
            out.extend(b)

        return null_union(e_str)
    raise ValueError(f"no Avro encoder for Spark type {dtype}")


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    mode: str = "overwrite",
    block_rows: int = 4096,
) -> int:
    """Sink ``df`` as a directory of ``part-*.avro`` container files, one
    per partition — written executor-side in ``mapInPandas`` so the sink
    scales with the upstream plan (local/shared filesystem; on a cluster
    with the jar, use ``df.write.format("avro")``).  ``overwrite`` is the
    S19 drop-if-exists reload.  Returns rows written."""
    import shutil

    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec: {codec!r}")
    if mode == "overwrite" and os.path.isdir(path):
        shutil.rmtree(path)
    elif mode == "error" and os.path.exists(path):
        raise ValueError(f"path exists: {path}")
    os.makedirs(path, exist_ok=True)
    name_seq = [0]
    avro_schema = _spark_to_avro(df.schema, name_seq)
    # the TOP-LEVEL schema is the record itself, not a union
    schema_json = json.dumps(avro_schema)
    fields = df.schema.fields
    row_encoders = [(f.name, _make_encoder(f.dataType)) for f in fields]

    def write_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import uuid

        sync = uuid.uuid4().bytes
        buf = io.BytesIO()
        # header
        buf.write(_MAGIC)
        meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
        head = bytearray()
        _write_long(head, len(meta))
        for k, v in meta.items():
            kb = k.encode()
            _write_long(head, len(kb))
            head.extend(kb)
            _write_long(head, len(v))
            head.extend(v)
        _write_long(head, 0)
        buf.write(bytes(head))
        buf.write(sync)

        def flush(rows_buf: bytearray, count: int) -> None:
            data = bytes(rows_buf)
            if codec == "deflate":
                co = zlib.compressobj(6, zlib.DEFLATED, -15)
                data = co.compress(data) + co.flush()
            blk = bytearray()
            _write_long(blk, count)
            _write_long(blk, len(data))
            buf.write(bytes(blk))
            buf.write(data)
            buf.write(sync)

        total = 0
        rows_buf = bytearray()
        in_block = 0
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                for (name, enc), v in zip(row_encoders, row):
                    enc(rows_buf, v)
                in_block += 1
                total += 1
                if in_block >= block_rows:
                    flush(rows_buf, in_block)
                    rows_buf = bytearray()
                    in_block = 0
        if in_block:
            flush(rows_buf, in_block)
        if total:
            fname = os.path.join(path, f"part-{uuid.uuid4().hex}.avro")
            with open(fname, "wb") as f:
                f.write(buf.getvalue())
            yield pd.DataFrame({"path": [fname], "rows": [total]})

    parts = df.mapInPandas(write_parts, "path string, rows long").collect()
    return int(sum(r["rows"] for r in parts))
