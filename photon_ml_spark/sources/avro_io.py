"""Avro wire-format compatibility (SURVEY §2.1 S1/S2/S9/S11).

The reference ingests ``TrainingExampleAvro`` records and persists
models as ``BayesianLinearModelAvro`` (AvroDataReader.scala:85-208,
ModelProcessingUtils.scala:77-265, photon-avro-schemas/src/main/avro/
TrainingExampleAvro.avsc + BayesianLinearModelAvro.avsc +
NameTermValueAvro.avsc). A migrating user's data sits in these files,
so the engine must read and write them bit-compatibly.

Spark-first strategy: ``spark.read/write.format("avro")`` when the
spark-avro datasource is on the classpath (it is a separate artifact,
absent from pyspark's bundled jars). Otherwise fall back to a pure-
Python Object Container File codec — the OCF layout and the Avro
binary encoding are small public specs (zigzag varints, length-
prefixed bytes, block-framed arrays/maps, union index prefix;
container = magic, metadata map, 16-byte sync, deflate/null blocks):

- **read**: local files split WITHIN the file on sync markers at
  spark.sql.files.maxPartitionBytes (``_decode_split`` — the standard
  input-split ownership contract, matching the within-file splits the
  reference gets from HDFS input splits, AvroUtils.scala:62-93), so a
  multi-GB part file decodes across many tasks. Remote schemes split
  the same way when ``pyarrow.fs`` can serve byte-range reads for the
  scheme (s3://, gcs://; hdfs:// with libhdfs) — executors have no
  JVM gateway, so pyarrow IS the worker-side ranged-read client;
  schemes pyarrow cannot resolve fall back to ``binaryFiles``
  whole-file tasks. The writer schema is read driver-side from each
  file's header via a bounded Hadoop-FS stream — never a full-file
  driver fetch.
- **write**: ``df.rdd.mapPartitionsWithIndex`` → one ``part-N.avro``
  per partition through Python ``open()`` (POSIX-visible paths; for
  object stores install spark-avro, which the writer tries first).

Compression: ``deflate`` (raw RFC-1951, the spec's required optional
codec) or ``null``. Sync markers are derived deterministically from
(schema, partition) so re-written files are byte-identical.

The JVM avro core library bundled with Spark (avro-1.12.1.jar) is
used in tests as an independent cross-check of this codec — files we
write are re-read through ``org.apache.avro.file.DataFileReader``.

SCALE CAVEAT: the fallback decodes rows in Python (row-at-a-time
inside each file task). It is a COMPATIBILITY path — correct, tested,
and parallel per file, but a 100 TB Avro scan through it would be
Python-bound (~10-100x slower than a columnar JVM scan). Production
deployments must put ``spark-avro`` (org.apache.spark:spark-avro) on
the classpath — ``read_avro``/``write_avro`` detect and prefer it
automatically, turning the same call sites into JVM-side vectorized
scans with pushdown.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import zlib
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# --------------------------------------------------------------- schema parse
def _resolve(schema: Any, named: dict[str, Any]) -> Any:
    """Normalize a schema node: register named types, resolve name
    references to their definitions. Recursive schemas unsupported
    (photon's wire schemas are trees)."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in named:
            return named[schema]
        raise ValueError(f"unresolved Avro type reference: {schema}")
    if isinstance(schema, list):  # union
        return [_resolve(b, named) for b in schema]
    t = schema["type"]
    if t in _PRIMITIVES:
        # primitives may carry extra props (e.g. avro.java.string) —
        # normalize to the bare name
        return t
    if t in ("record", "enum", "fixed"):
        # register under both short and fully-qualified name BEFORE
        # resolving children so siblings can reference it
        out = dict(schema)
        named[schema["name"]] = out
        ns = schema.get("namespace")
        if ns:
            named[f"{ns}.{schema['name']}"] = out
        if t == "record":
            out["fields"] = [
                {**f, "type": _resolve(f["type"], named)} for f in schema["fields"]
            ]
        return out
    if t == "array":
        return {"type": "array", "items": _resolve(schema["items"], named)}
    if t == "map":
        return {"type": "map", "values": _resolve(schema["values"], named)}
    if t in _PRIMITIVES:  # e.g. {"type": "string", "logicalType": ...}
        return t
    raise ValueError(f"unsupported Avro type: {t}")


def parse_schema(schema_json: str) -> Any:
    return _resolve(json.loads(schema_json), {})


# ------------------------------------------------------------ binary decoding
def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    z = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (z >> 1) ^ -(z & 1), pos


def _make_decoder(schema: Any) -> Callable[[bytes, int], tuple[Any, int]]:
    """Compile a (buf, pos) -> (value, pos) decoder for the schema.
    Records decode to field-order tuples — directly Row-shaped for
    ``createDataFrame``; maps decode to dicts."""
    if isinstance(schema, str):
        if schema == "null":
            return lambda buf, pos: (None, pos)
        if schema == "boolean":
            return lambda buf, pos: (buf[pos] == 1, pos + 1)
        if schema in ("int", "long"):
            return _read_long
        if schema == "float":
            return lambda buf, pos: (
                struct.unpack_from("<f", buf, pos)[0], pos + 4)
        if schema == "double":
            return lambda buf, pos: (
                struct.unpack_from("<d", buf, pos)[0], pos + 8)
        if schema == "bytes":
            def d_bytes(buf, pos):
                n, pos = _read_long(buf, pos)
                return bytes(buf[pos:pos + n]), pos + n
            return d_bytes
        if schema == "string":
            def d_str(buf, pos):
                n, pos = _read_long(buf, pos)
                return bytes(buf[pos:pos + n]).decode("utf-8"), pos + n
            return d_str
    if isinstance(schema, list):
        branches = [_make_decoder(b) for b in schema]

        def d_union(buf, pos):
            i, pos = _read_long(buf, pos)
            return branches[i](buf, pos)
        return d_union
    t = schema["type"]
    if t == "record":
        fields = [_make_decoder(f["type"]) for f in schema["fields"]]

        def d_record(buf, pos):
            vals = []
            for fd in fields:
                v, pos = fd(buf, pos)
                vals.append(v)
            return tuple(vals), pos
        return d_record
    if t == "array":
        item = _make_decoder(schema["items"])

        def d_array(buf, pos):
            out = []
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # block-size prefix variant
                    _, pos = _read_long(buf, pos)
                    n = -n
                for _ in range(n):
                    v, pos = item(buf, pos)
                    out.append(v)
        return d_array
    if t == "map":
        val = _make_decoder(schema["values"])

        def d_map(buf, pos):
            out = {}
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _read_long(buf, pos)
                    n = -n
                for _ in range(n):
                    klen, pos = _read_long(buf, pos)
                    k = bytes(buf[pos:pos + klen]).decode("utf-8")
                    pos += klen
                    v, pos = val(buf, pos)
                    out[k] = v
        return d_map
    if t == "enum":
        symbols = schema["symbols"]

        def d_enum(buf, pos):
            i, pos = _read_long(buf, pos)
            return symbols[i], pos
        return d_enum
    if t == "fixed":
        size = schema["size"]
        return lambda buf, pos: (bytes(buf[pos:pos + size]), pos + size)
    raise ValueError(f"unsupported Avro type: {schema}")


# ------------------------------------------------------------ binary encoding
def _write_long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _make_encoder(schema: Any) -> Callable[[bytearray, Any], None]:
    """Compile an (out, value) encoder. Accepts dicts OR field-order
    tuples/Rows for records; unions resolve null vs the single
    non-null branch (the only union shape in photon's schemas)."""
    if isinstance(schema, str):
        if schema == "null":
            return lambda out, v: None
        if schema == "boolean":
            return lambda out, v: out.append(1 if v else 0)
        if schema in ("int", "long"):
            return lambda out, v: _write_long(out, int(v))
        if schema == "float":
            return lambda out, v: out.extend(struct.pack("<f", float(v)))
        if schema == "double":
            return lambda out, v: out.extend(struct.pack("<d", float(v)))
        if schema == "bytes":
            def e_bytes(out, v):
                _write_long(out, len(v))
                out.extend(v)
            return e_bytes
        if schema == "string":
            def e_str(out, v):
                b = v.encode("utf-8")
                _write_long(out, len(b))
                out.extend(b)
            return e_str
    if isinstance(schema, list):
        null_idx = next((i for i, b in enumerate(schema) if b == "null"), None)
        other = [(i, b) for i, b in enumerate(schema) if b != "null"]
        if len(other) > 1:
            # wide union (foreign writer schemas — e.g. synthesizing
            # reference-toolchain shapes in tests): dispatch the branch
            # on the Python value's type. Branch preference per type
            # mirrors the decode side's precedence.
            by_kind: dict[str, tuple[int, Callable]] = {}
            for i, b in other:
                kind = b if isinstance(b, str) else b.get("type")
                if kind not in by_kind:
                    by_kind[kind] = (i, _make_encoder(b))

            def pick(v):
                if isinstance(v, bool):
                    order = ("boolean", "int", "long", "double", "float",
                             "string")
                elif isinstance(v, int):
                    order = ("long", "int", "double", "float", "string")
                elif isinstance(v, float):
                    order = ("double", "float", "string")
                elif isinstance(v, str):
                    order = ("string",)
                elif isinstance(v, (bytes, bytearray)):
                    order = ("bytes", "string")
                elif isinstance(v, dict):
                    order = ("map",)
                elif isinstance(v, (list,)):
                    order = ("array",)
                elif isinstance(v, tuple):
                    order = ("record",)
                else:
                    order = ()
                for k in order:
                    if k in by_kind:
                        return by_kind[k]
                raise ValueError(
                    f"no union branch for {type(v).__name__} in "
                    f"{sorted(by_kind)}"
                )

            def e_wide(out, v):
                if v is None:
                    if null_idx is None:
                        raise ValueError("None for non-nullable union")
                    _write_long(out, null_idx)
                    return
                i, enc = pick(v)
                _write_long(out, i)
                enc(out, v)
            return e_wide
        oi, ob = other[0] if other else (None, None)
        oe = _make_encoder(ob) if ob is not None else None

        def e_union(out, v):
            if v is None:
                if null_idx is None:
                    raise ValueError("None for non-nullable union")
                _write_long(out, null_idx)
            else:
                _write_long(out, oi)
                oe(out, v)
        return e_union
    t = schema["type"]
    if t == "record":
        fields = [(f["name"], _make_encoder(f["type"])) for f in schema["fields"]]

        def e_record(out, v):
            if isinstance(v, dict):
                for name, fe in fields:
                    fe(out, v.get(name))
            else:  # Row / tuple in field order
                for (name, fe), item in zip(fields, v):
                    fe(out, item)
        return e_record
    if t == "array":
        item = _make_encoder(schema["items"])

        def e_array(out, v):
            if len(v):
                _write_long(out, len(v))
                for x in v:
                    item(out, x)
            _write_long(out, 0)
        return e_array
    if t == "map":
        val = _make_encoder(schema["values"])

        def e_map(out, v):
            if len(v):
                _write_long(out, len(v))
                for k, x in v.items():
                    kb = k.encode("utf-8")
                    _write_long(out, len(kb))
                    out.extend(kb)
                    val(out, x)
            _write_long(out, 0)
        return e_map
    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}
        return lambda out, v: _write_long(out, index[v])
    if t == "fixed":
        return lambda out, v: out.extend(v)
    raise ValueError(f"unsupported Avro type: {schema}")


# ------------------------------------------------------- object container file
def _sync_marker(schema_json: str, seed: int) -> bytes:
    """Deterministic 16-byte sync (md5 of schema+seed): identical
    inputs produce byte-identical files — the engine's reproducible-
    output convention (no RNG in the write path)."""
    return hashlib.md5(f"{schema_json}\x00{seed}".encode()).digest()


def write_ocf(
    schema_json: str,
    records: Iterable[Any],
    codec: str = "deflate",
    sync_seed: int = 0,
    block_records: int = 4096,
) -> bytes:
    schema = parse_schema(schema_json)
    enc = _make_encoder(schema)
    sync = _sync_marker(schema_json, sync_seed)
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        _write_long(out, len(kb))
        out.extend(kb)
        _write_long(out, len(v))
        out.extend(v)
    _write_long(out, 0)
    out.extend(sync)

    block = bytearray()
    n_in_block = 0

    def flush():
        nonlocal block, n_in_block
        if not n_in_block:
            return
        payload = bytes(block)
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        _write_long(out, n_in_block)
        _write_long(out, len(payload))
        out.extend(payload)
        out.extend(sync)
        block = bytearray()
        n_in_block = 0

    for rec in records:
        enc(block, rec)
        n_in_block += 1
        if n_in_block >= block_records:
            flush()
    flush()
    return bytes(out)


def _parse_header(data: bytes) -> tuple[dict, bytes, int]:
    """OCF header → (metadata map, 16-byte sync, header length). Raises
    IndexError when ``data`` is a truncated prefix that ends inside the
    header (callers retry with a larger bound)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = _read_long(data, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = _read_long(data, pos)
            n = -n
        for _ in range(n):
            klen, pos = _read_long(data, pos)
            k = data[pos:pos + klen].decode()
            pos += klen
            vlen, pos = _read_long(data, pos)
            if pos + vlen > len(data):
                raise IndexError("truncated header prefix")
            meta[k] = data[pos:pos + vlen]
            pos += vlen
    sync = data[pos:pos + 16]
    if len(sync) != 16:
        raise IndexError("truncated header prefix")
    return meta, sync, pos + 16


def read_ocf(data: bytes) -> tuple[str, list]:
    """Decode a full container file → (writer schema JSON, records).
    Records are field-order tuples (see _make_decoder)."""
    meta, sync, pos = _parse_header(data)
    schema_json = meta["avro.schema"].decode()
    codec = meta.get("avro.codec", b"null").decode()
    dec = _make_decoder(parse_schema(schema_json))
    records = []
    end = len(data)
    while pos < end:
        n, pos = _read_long(data, pos)
        size, pos = _read_long(data, pos)
        payload = data[pos:pos + size]
        pos += size
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        p = 0
        for _ in range(n):
            v, p = dec(payload, p)
            records.append(v)
        if data[pos:pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return schema_json, records


# --------------------------------------------------------- spark type mapping
# Wide-union resolution order — AvroDataReader.scala:265 numericPrecedence
# (DOUBLE > FLOAT > LONG > INT); appearing earlier wins.
_NUMERIC_PRECEDENCE = ("double", "float", "long", "int")


def _resolve_wide_union(non_null: list) -> Any:
    """Resolve a multi-branch (post-null-strip) union to ONE effective
    schema, following the reference's rules (AvroDataReader.scala:
    398-427): all-numeric unions take the dominant numeric type by
    precedence; unions containing string resolve to string; anything
    else takes the first branch. The reference's own integ-test
    fixtures (heart.avro label: [double,float,int,long,boolean,string])
    require this — strict [null, X] unions reject them."""
    if not non_null:
        raise ValueError("degenerate Avro union with no non-null branch")
    prims = [b for b in non_null if isinstance(b, str)]
    if len(prims) == len(non_null) and all(
        b in _NUMERIC_PRECEDENCE for b in prims
    ):
        for t in _NUMERIC_PRECEDENCE:
            if t in prims:
                return t
    if "string" in prims:
        return "string"
    return non_null[0]


def _effective(schema: Any) -> Any:
    """A union's single effective schema (non-unions pass through)."""
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        return (
            non_null[0] if len(non_null) == 1
            else _resolve_wide_union(non_null)
        )
    return schema


def _dyn_coerce(target: Any) -> Callable[[Any], Any]:
    """Value-level coercion of a wide-union decode (the branch taken is
    only known at runtime) to the union's effective primitive type.
    Mirrors the reference's Utils.get*Avro coercions (Utils.scala:
    getDoubleAvro accepts Number|String, getStringAvro stringifies);
    booleans render Java-style. None always passes through ([null,...]
    branches)."""
    if isinstance(target, dict) and target.get("type") == "enum":
        target = "string"
    if not isinstance(target, str):
        raise ValueError(
            "wide Avro unions with complex branches are not supported"
        )
    if target == "string":
        def c_str(v):
            if v is None or isinstance(v, str):
                return v
            if v is True:
                return "true"
            if v is False:
                return "false"
            if isinstance(v, (bytes, bytearray)):
                return bytes(v).decode("utf-8", "replace")
            return str(v)
        return c_str
    if target in ("double", "float"):
        def c_float(v):
            if v is None:
                return None
            return float(v)  # bool → 1.0/0.0, str parses, int widens
        return c_float
    if target in ("int", "long"):
        def c_int(v):
            if v is None:
                return None
            if isinstance(v, str):
                return int(float(v))
            return int(v)
        return c_int
    if target == "boolean":
        def c_bool(v):
            if v is None or isinstance(v, bool):
                return v
            if isinstance(v, str):
                return v.strip().lower() in ("true", "1")
            return bool(v)
        return c_bool
    if target == "bytes":
        def c_bytes(v):
            if v is None or isinstance(v, (bytes, bytearray)):
                return v
            if isinstance(v, str):
                return v.encode("utf-8")
            raise ValueError(f"cannot coerce {type(v).__name__} to bytes")
        return c_bytes
    raise ValueError(f"unsupported wide-union coercion target: {target}")


# Cross-type primitive pairs whose decoded Python values already fit
# the reader's Spark type (int/long are both Python int; float/double
# both Python float) — no per-value work.
_PRIM_NOOP = {
    ("int", "long"), ("long", "int"),
    ("float", "double"), ("double", "float"),
}


def _make_adapter(writer: Any, reader: Any) -> Callable[[Any], Any] | None:
    """Avro schema resolution, compiled: decoded writer-shaped value →
    reader-shaped value. Record fields match by NAME (reader fields
    missing from the writer take their schema default), numeric types
    promote, wide unions flatten to their effective type
    (_resolve_wide_union). Returns None when the shapes already agree —
    the common self-written round-trip pays zero per-row cost.

    This is what lets the engine read the reference toolchain's real
    artifacts (DriverIntegTest/GameIntegTest fixtures) whose writer
    schemas differ from the canonical photon-avro-schemas forms in
    field order, field nullability, and union width."""
    if isinstance(writer, list):
        w_non_null = [b for b in writer if b != "null"]
        if len(w_non_null) == 1:
            inner = _make_adapter(w_non_null[0], reader)
            if inner is None:
                return None
            return lambda v: None if v is None else inner(v)
        # wide writer union: the decoded value's branch is unknown
        # statically — coerce dynamically to the reader's effective type
        return _dyn_coerce(_effective(reader))
    if isinstance(reader, list):
        return _make_adapter(writer, _effective(reader))

    w_complex = isinstance(writer, dict)
    r_complex = isinstance(reader, dict)
    if w_complex != r_complex:
        if not w_complex:  # primitive writer into complex reader
            raise ValueError(
                f"cannot resolve writer {writer!r} against reader schema"
            )
        wt = writer.get("type")
        if wt == "enum":  # enum decodes to its symbol string
            return _make_adapter("string", reader)
        if wt == "fixed":
            return _make_adapter("bytes", reader)
        raise ValueError(
            f"cannot resolve writer {wt} against reader {reader!r}"
        )
    if not w_complex:
        if writer == reader or (writer, reader) in _PRIM_NOOP:
            return None
        return _dyn_coerce(reader)

    wt, rt = writer.get("type"), reader.get("type")
    if wt == "record" and rt == "record":
        w_idx = {f["name"]: i for i, f in enumerate(writer["fields"])}
        subs: list[tuple[int | None, Callable | None, Any]] = []
        for rf in reader["fields"]:
            if rf["name"] in w_idx:
                i = w_idx[rf["name"]]
                sub = _make_adapter(
                    writer["fields"][i]["type"], rf["type"]
                )
                subs.append((i, sub, None))
            else:
                if "default" not in rf:
                    raise ValueError(
                        f"reader field {rf['name']!r} missing from writer "
                        "schema and has no default"
                    )
                d = rf["default"]
                if d is not None and _effective(rf["type"]) in (
                    "double", "float"
                ):
                    d = float(d)
                subs.append((None, None, d))
        if len(subs) == len(writer["fields"]) and all(
            i == k and f is None for k, (i, f, _) in enumerate(subs)
        ):
            return None

        def c_record(v):
            return tuple(
                d if i is None else (v[i] if f is None else f(v[i]))
                for i, f, d in subs
            )
        return c_record
    if wt == "array" and rt == "array":
        sub = _make_adapter(writer["items"], reader["items"])
        if sub is None:
            return None
        return lambda v: None if v is None else [sub(x) for x in v]
    if wt == "map" and rt == "map":
        sub = _make_adapter(writer["values"], reader["values"])
        if sub is None:
            return None
        return (
            lambda v: None if v is None
            else {k: sub(x) for k, x in v.items()}
        )
    if wt == "enum" and rt == "enum":
        return None
    if wt == "fixed" and rt == "fixed":
        return None
    raise ValueError(f"cannot resolve writer {wt} against reader {rt}")


def avro_spark_type(schema: Any) -> T.DataType:
    if isinstance(schema, str):
        return {
            "null": T.NullType(), "boolean": T.BooleanType(),
            "int": T.IntegerType(), "long": T.LongType(),
            "float": T.FloatType(), "double": T.DoubleType(),
            "bytes": T.BinaryType(), "string": T.StringType(),
        }[schema]
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        if len(non_null) != 1:
            return avro_spark_type(_resolve_wide_union(non_null))
        return avro_spark_type(non_null[0])
    t = schema["type"]
    if t == "record":
        return T.StructType(
            [
                T.StructField(f["name"], avro_spark_type(f["type"]), True)
                for f in schema["fields"]
            ]
        )
    if t == "array":
        return T.ArrayType(avro_spark_type(schema["items"]), True)
    if t == "map":
        return T.MapType(T.StringType(), avro_spark_type(schema["values"]), True)
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    raise ValueError(f"unsupported Avro type: {schema}")


# ------------------------------------------------------------ spark read/write
# Failure signatures that mean "this JVM has no Hadoop connector for
# the scheme" (hadoop-aws / gcs-connector absent, or the connector
# class not on the classpath). ONLY these reroute to the pyarrow.fs
# pipeline — a transient py4j/JVM error on a scheme the JVM *does*
# serve must surface, not silently switch the read to a different
# filesystem implementation with different credential resolution.
_NO_CONNECTOR_MARKERS = (
    "No FileSystem for scheme",
    "UnsupportedFileSystemException",
    "ClassNotFoundException",
)


def _is_no_connector_error(e: Exception) -> bool:
    # py4j stringifies the full Java exception (class + message +
    # trace), so class-name markers are visible in str(e)
    s = str(e)
    return any(m in s for m in _NO_CONNECTOR_MARKERS)


def _uses_pyarrow_uri_options(path: str) -> bool:
    """True for remote URIs written in this repo's pyarrow option
    convention — credentials in userinfo and/or ``?endpoint_override=``
    -style query options. Hadoop filesystems don't understand either
    (listStatus/open treat the query string as path characters even
    when a JVM connector for the scheme IS installed), so these route
    to ``pyarrow.fs`` unconditionally; which optional jars happen to
    be deployed no longer changes whether the URI works."""
    from urllib.parse import urlparse

    u = urlparse(path)
    # no scheme / file:// / 1-char windows drive letters: local, JVM-fine
    if not u.scheme or u.scheme == "file" or len(u.scheme) == 1:
        return False
    return bool(u.query) or "@" in (u.netloc or "")


def _pyarrow_header_bytes(path: str, limit: int) -> bytes:
    from pyarrow import fs as pafs

    fsys, rel = pafs.FileSystem.from_uri(path)
    with fsys.open_input_file(rel) as f:
        return f.read(limit)


def _header_bytes(spark: SparkSession, path: str, limit: int) -> bytes:
    """First `limit` bytes of `path` via the JVM Hadoop FS (scheme-
    aware, bounded — never a full-file driver fetch). Schemes the JVM
    conf has no connector for (e.g. ``s3://`` without hadoop-aws) and
    URIs carrying pyarrow userinfo/query options fall back to a
    bounded ``pyarrow.fs`` read — the same resolver the executor-side
    ranged decode uses. Any OTHER JVM failure (transient py4j error,
    permission denied on a served scheme) propagates: rerouting those
    would silently change which credentials resolve the path."""
    if _uses_pyarrow_uri_options(path):
        return _pyarrow_header_bytes(path, limit)
    try:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        stream = fs.open(p)
    except Exception as e:
        if not _is_no_connector_error(e):
            raise
        return _pyarrow_header_bytes(path, limit)
    try:
        bounded = jvm.org.apache.commons.io.input.BoundedInputStream(
            stream, limit
        )
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(bounded))
    finally:
        stream.close()


def _pyarrow_list_with_size(path: str) -> list[tuple[str, int]]:
    """Driver-side listing via ``pyarrow.fs`` for schemes the JVM
    Hadoop conf has no connector for (e.g. ``s3://`` without
    hadoop-aws). Children re-attach the caller's authority and query
    string, so endpoint/credential options embedded in the URI ride
    into the executor-side ranged opens unchanged."""
    from pyarrow import fs as pafs

    fsys, rel = pafs.FileSystem.from_uri(path)
    info = fsys.get_file_info(rel)
    if info.type == pafs.FileType.File:
        return [(path, info.size)]
    if info.type != pafs.FileType.Directory:
        raise ValueError(f"no such path: {path}")
    base, _, query = path.partition("?")
    suffix = f"?{query}" if query else ""
    out = []
    for ch in fsys.get_file_info(pafs.FileSelector(rel, recursive=False)):
        if ch.type == pafs.FileType.File and ch.base_name.endswith(".avro"):
            out.append((base.rstrip("/") + ch.path[len(rel):] + suffix,
                        ch.size))
    return sorted(out)


def _jvm_resolves(spark: SparkSession, path: str) -> bool:
    """Can the JVM Hadoop conf serve this path (scheme has a connector,
    path parses, and the URI is not in the pyarrow option convention)?
    False routes the read to the pure-Python + ``pyarrow.fs`` pipeline —
    the spark-avro datasource would fail on the same scheme for the
    same reason. Only the no-connector failure class maps to False; a
    transient JVM error on a served scheme propagates so it can't
    silently switch credential resolution to pyarrow."""
    if _uses_pyarrow_uri_options(path):
        return False
    try:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf)
        return True
    except Exception as e:
        if _is_no_connector_error(e):
            return False
        raise


def _list_avro_files_with_size(
    spark: SparkSession, path: str
) -> list[tuple[str, int]]:
    if not _jvm_resolves(spark, path):
        return _pyarrow_list_with_size(path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    # qualify BEFORE returning strings: listStatus results come back
    # scheme-qualified, but the single-file branch would otherwise
    # echo the caller's bare string — and a scheme-less path under an
    # hdfs:// defaultFS would then string-sniff as POSIX-local and be
    # open()'d on executors
    p = fs.makeQualified(p)
    if fs.isDirectory(p):
        it = fs.listStatus(p)
        return sorted(
            (s.getPath().toString(), int(s.getLen()))
            for s in it
            if s.isFile() and s.getPath().getName().endswith(".avro")
        )
    return [(p.toString(), int(fs.getFileStatus(p).getLen()))]


def _local_path(path: str) -> str | None:
    """POSIX path for a Hadoop path string, or None for a non-local
    scheme (hdfs://, s3a://, ...) — those fall back to whole-file
    tasks since executors have no pure-Python byte-range access to
    them."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        # file:///x and file:/x both mean /x
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    if "://" in path or path.startswith("viewfs:"):
        return None
    return path


# Matches spark.sql.files.maxPartitionBytes' default: the input-split
# grain the JVM scan would use on the same files.
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024


_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _parse_byte_string(raw) -> int:
    """Spark byte-string config values — ``134217728b``, ``128m``,
    ``64mb``, ``1g`` are all valid ``maxPartitionBytes`` settings
    (JavaUtils.byteStringAs suffixes); bare-``b``-stripping alone
    crashed on the human-readable forms."""
    s = str(raw).strip().lower()
    num = s.rstrip("kmgtbp")
    mult = _BYTE_SUFFIXES.get(s[len(num):])
    if mult is None or not num:
        raise ValueError(f"unparseable byte size: {raw!r}")
    return int(num) * mult


def _split_ranges(file_size: int, split_bytes: int) -> list[tuple[int, int]]:
    if file_size <= split_bytes:
        return [(0, file_size)]
    return [
        (s, min(s + split_bytes, file_size))
        for s in range(0, file_size, split_bytes)
    ]


def _pyarrow_resolves(uri: str) -> bool:
    """Driver-side probe: can pyarrow.fs serve byte-range reads for
    this URI's scheme (s3://, gcs://, hdfs:// with libhdfs, ...)?
    Resolution failures (missing bindings, unreachable endpoint) mean
    the caller falls back to whole-file tasks."""
    try:
        from pyarrow import fs as pafs

        pafs.FileSystem.from_uri(uri)
        return True
    except Exception:
        return False


def _open_ranged(path: str, remote: bool):
    """Seekable binary reader for a split task: plain ``open`` for
    POSIX paths, ``pyarrow.fs`` for remote URIs — the pure-Python
    byte-range access executors need (no JVM gateway exists worker-
    side). pyarrow NativeFile implements seek/read/close, the whole
    surface _decode_split touches."""
    if not remote:
        return open(path, "rb")
    from pyarrow import fs as pafs

    fsys, rel = pafs.FileSystem.from_uri(path)
    return fsys.open_input_file(rel)


def _decode_split(
    path: str,
    start: int,
    end: int,
    header_len: int,
    sync: bytes,
    codec: str,
    schema_json: str,
    fsize: int | None = None,
    remote: bool = False,
) -> list:
    """Decode the OCF blocks OWNED by byte range [start, end) — the
    within-file parallelism the reference gets from HDFS input splits
    (AvroUtils.scala:62-93 / the avro mapred input format). Ownership
    is the standard input-split contract: a block belongs to the split
    containing the first byte of its PRECEDING sync marker (the header
    tail for the first block), and the owning task streams past `end`
    to finish its last block. Pure Python, executor-safe (no JVM
    gateway): splits exist only for local paths. A random 16-byte
    payload collision with the sync marker is possible in principle
    (2^-128 per position) and would surface as a loud decode error,
    never silent row loss."""
    dec = _make_decoder(parse_schema(schema_json))
    out: list = []
    with _open_ranged(path, remote) as f:
        if fsize is None:  # local-path convenience; remote descs carry it
            fsize = os.fstat(f.fileno()).st_size
        if start == 0:
            # first block's preceding sync is the header tail; owned
            # iff that sync starts inside this split
            if end <= header_len - 16:
                return out
            pos = header_len
        else:
            # first sync STARTING in [start, end) — bounded forward
            # scan in 64 KB chunks with a (sync−1)-byte overlap, so a
            # sync straddling a chunk (or `end`) boundary is found iff
            # it starts before `end`. Never a split-sized allocation,
            # and the bytes are not read twice (the first sync almost
            # always sits within the first block — a whole-split read
            # here doubled per-task IO and peaked a 128 MB buffer).
            # Syncs inside the header region belong to split 0's
            # convention above.
            chunk_bytes = 64 * 1024
            scan_limit = min(end + len(sync) - 1, fsize)
            found = -1
            cpos = start
            while cpos < scan_limit:
                f.seek(cpos)
                chunk = f.read(min(chunk_bytes, scan_limit - cpos))
                idx = chunk.find(sync)
                while idx != -1 and cpos + idx < header_len - 16:
                    idx = chunk.find(sync, idx + 1)
                if idx != -1:
                    found = cpos + idx
                    break
                if cpos + len(chunk) >= scan_limit:
                    break
                cpos += len(chunk) - (len(sync) - 1)
            if found == -1 or found >= end:
                return out
            pos = found + 16
        while pos < fsize:
            f.seek(pos)
            head = f.read(20)  # two varint longs are ≤ 20 bytes
            n, off = _read_long(head, 0)
            size, off = _read_long(head, off)
            f.seek(pos + off)
            payload = f.read(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, -15)
            elif codec != "null":
                raise ValueError(f"unsupported codec {codec}")
            p = 0
            for _ in range(n):
                v, p = dec(payload, p)
                out.append(v)
            sync_pos = pos + off + size
            f.seek(sync_pos)
            if f.read(16) != sync:
                raise ValueError("sync marker mismatch")
            pos = sync_pos + 16
            # the trailing sync is the NEXT block's preceding sync:
            # starting at or past `end`, the next block is the next
            # split's property
            if sync_pos >= end:
                break
    return out


def _schema_from_header(data: bytes) -> str:
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    while True:
        n, pos = _read_long(data, pos)
        if n == 0:
            return ""
        if n < 0:
            _, pos = _read_long(data, pos)
            n = -n
        for _ in range(n):
            klen, pos = _read_long(data, pos)
            k = data[pos:pos + klen].decode()
            pos += klen
            vlen, pos = _read_long(data, pos)
            if pos + vlen > len(data):
                # truncated prefix mid-value: a silently shortened
                # schema string would fail later as a JSON error
                # instead of triggering the caller's larger-bound retry
                raise IndexError("truncated header prefix")
            v = data[pos:pos + vlen]
            pos += vlen
            if k == "avro.schema":
                return v.decode()


def _has_wide_union(schema: Any) -> bool:
    """True when the schema contains a union with >1 non-null branch
    anywhere. Wide unions are where spark-avro's mapping (member
    structs / load error) diverges from the reference semantics
    (AvroDataReader.scala:398-427 flattening to ONE effective type) —
    the routing signal for read_avro's decoder choice."""
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        return len(non_null) > 1 or any(
            _has_wide_union(b) for b in non_null
        )
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "record":
            return any(_has_wide_union(f["type"]) for f in schema["fields"])
        if t == "array":
            return _has_wide_union(schema["items"])
        if t == "map":
            return _has_wide_union(schema["values"])
    return False


def has_spark_avro(spark: SparkSession) -> bool:
    """True when the JVM spark-avro datasource is resolvable in this
    session (the production path — enable locally via
    ``SPARK_GRAFT_JARS=/path/to/spark-avro_2.13-<ver>.jar`` or
    ``SPARK_GRAFT_PACKAGES=org.apache.spark:spark-avro_2.13:<ver>``,
    see ``session.get_spark``). Uses Spark's own datasource lookup so
    jars added through spark.jars/spark.jars.packages are honored;
    probed once and cached on the session. With the probe explicit,
    a REAL datasource error (bad schema option, corrupt container)
    propagates instead of being silently retried through the Python
    codec with different performance and error behavior."""
    cached = getattr(spark, "_photon_has_spark_avro", None)
    if cached is None:
        try:
            jvm = spark.sparkContext._jvm
            jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jsparkSession.sessionState().conf()
            )
            cached = True
        except Exception:
            cached = False
        spark._photon_has_spark_avro = cached
    return cached


def read_avro(
    spark: SparkSession,
    path: str,
    avro_schema: str | None = None,
    split_bytes: int | None = None,
) -> DataFrame:
    """S1 Avro scan. spark-avro datasource when present (see
    ``has_spark_avro`` for the enable recipe), else the distributed
    pure-Python fallback. Files split WITHIN the file on sync
    markers at ``split_bytes`` (default
    spark.sql.files.maxPartitionBytes) — the within-file parallelism
    the reference gets from HDFS input splits (AvroUtils.scala:62-93),
    so one multi-GB part file no longer means one task. Remote schemes
    split too when pyarrow.fs resolves them (executor-side ranged
    reads); otherwise they keep whole-file tasks — install spark-avro
    for those (it is also simply the faster path everywhere)."""
    # The datasource branch needs BOTH the spark-avro classes and a JVM
    # filesystem for the scheme: with spark-avro installed but no
    # hadoop-aws, an s3:// path would pass the wide-union probe via the
    # pyarrow fallbacks and then die inside reader.load() with "No
    # FileSystem for scheme" — so unresolvable schemes (and pyarrow
    # option-convention URIs) always take the pure-Python pipeline.
    if has_spark_avro(spark) and _jvm_resolves(spark, path):
        # Route on union WIDTH before handing to the JVM datasource:
        # spark-avro maps wide non-null unions to member structs (or
        # fails against the reader schema), while the reference
        # flattens them to one effective type (AvroDataReader.scala:
        # 398-427) — which the Python decoder's _make_adapter
        # implements. Without this probe the same file would read with
        # DIFFERENT types depending on whether spark-avro happens to be
        # installed. Field reorder / defaults / numeric promotion stay
        # on spark-avro (standard Avro resolution handles those
        # natively via the avroSchema option). Probe cost: one bounded
        # header RPC on the first file; any probe failure falls back to
        # the datasource (its own error reporting is better for corrupt
        # inputs).
        wide = False
        try:
            first = _list_avro_files_with_size(spark, path)[0][0]
            wschema = ""
            for limit in (1 << 16, 1 << 20, 1 << 24):
                try:
                    wschema = _schema_from_header(
                        _header_bytes(spark, first, limit)
                    )
                    break
                except IndexError:
                    continue
            wide = bool(wschema) and _has_wide_union(parse_schema(wschema))
            if not wide and avro_schema is not None:
                wide = _has_wide_union(parse_schema(avro_schema))
        except Exception:
            wide = False
        if not wide:
            reader = spark.read.format("avro")
            if avro_schema is not None:
                reader = reader.option("avroSchema", avro_schema)
            return reader.load(path)
    files = _list_avro_files_with_size(spark, path)
    if not files:
        raise ValueError(f"no .avro files under {path}")
    # headers are typically < 1 KB: start the bounded fetch small and
    # escalate on truncation; cache per (path, limit) so the first
    # file's header is not fetched twice (schema probe + split loop)
    hdr_cache: dict[tuple[str, int], bytes] = {}

    def _hb(p: str, limit: int) -> bytes:
        if (p, limit) not in hdr_cache:
            hdr_cache[p, limit] = _header_bytes(spark, p, limit)
        return hdr_cache[p, limit]

    _LIMITS = (1 << 16, 1 << 20, 1 << 24)
    if avro_schema is None:
        first = files[0][0]
        for limit in _LIMITS:
            try:
                avro_schema = _schema_from_header(_hb(first, limit))
            except IndexError:  # metadata truncated at this bound
                continue
            if avro_schema:
                break
        if not avro_schema:
            raise ValueError(f"no avro.schema header found in {first}")
    spark_schema = avro_spark_type(parse_schema(avro_schema))
    if split_bytes is None:
        raw = spark.conf.get(
            "spark.sql.files.maxPartitionBytes", str(DEFAULT_SPLIT_BYTES)
        )
        split_bytes = _parse_byte_string(raw)
    locals_ = [_local_path(p) for p, _ in files]
    # in-file sync-marker splits need executor-side byte-range access:
    # POSIX open() for local paths, pyarrow.fs for remote schemes
    # (probed once per read on the first remote file — s3/gcs resolve
    # wherever pyarrow ships their bindings; hdfs needs libhdfs).
    # Unresolvable schemes keep the whole-file-per-task fallback.
    splittable = True
    for (fpath, _), lp in zip(files, locals_):
        if lp is None and not _pyarrow_resolves(fpath):
            splittable = False
            break
    if splittable:
        # one bounded header RPC per file (sync marker, codec, and
        # writer schema are per-file), then split descriptors fan the
        # block decode across executors
        descs = []
        for (fpath, fsize), lp in zip(files, locals_):
            hdr = None
            for limit in _LIMITS:
                try:
                    hdr = _parse_header(_hb(fpath, limit))
                    break
                except IndexError:
                    continue
            if hdr is None:
                raise ValueError(f"could not parse OCF header of {fpath}")
            meta, sync, header_len = hdr
            codec = meta.get("avro.codec", b"null").decode()
            schema_j = meta["avro.schema"].decode()
            for s, e in _split_ranges(fsize, split_bytes):
                descs.append((
                    lp if lp is not None else fpath,
                    s, e, header_len, sync, codec, schema_j,
                    fsize, lp is None,
                ))
        reader_json = avro_schema

        def decode_resolved(d):
            # schema resolution writer→reader, compiled once per task
            # (None = shapes agree: the self-written round-trip path)
            records = _decode_split(*d)
            ad = _make_adapter(
                parse_schema(d[6]), parse_schema(reader_json)
            )
            return records if ad is None else [ad(r) for r in records]

        rdd = spark.sparkContext.parallelize(
            descs, max(len(descs), 1)
        ).flatMap(decode_resolved)
        return spark.createDataFrame(rdd, schema=spark_schema)

    reader_json = avro_schema

    def decode(kv):
        _, data = kv
        wschema, records = read_ocf(bytes(data))
        ad = _make_adapter(parse_schema(wschema), parse_schema(reader_json))
        return records if ad is None else [ad(r) for r in records]

    glob = path if path.endswith(".avro") else os.path.join(path, "*.avro")
    rdd = spark.sparkContext.binaryFiles(glob).flatMap(decode)
    return spark.createDataFrame(rdd, schema=spark_schema)


def write_avro(
    df: DataFrame, path: str, avro_schema: str, codec: str = "deflate"
) -> None:
    """S11-style sink. spark-avro when present; else one part file per
    partition through the Python codec (POSIX-visible paths)."""
    if has_spark_avro(df.sparkSession):
        df.write.format("avro").option("avroSchema", avro_schema).mode(
            "overwrite"
        ).save(path)
        return
    names = df.schema.fieldNames()
    os.makedirs(path, exist_ok=True)
    for old in os.listdir(path):
        if old.endswith(".avro"):
            os.remove(os.path.join(path, old))

    def write_part(idx: int, it: Iterator[Row]) -> Iterator[int]:
        rows = ({n: r[n] for n in names} for r in it)
        first = next(rows, None)
        if first is None:
            return iter(())
        import itertools
        data = write_ocf(
            avro_schema, itertools.chain([first], rows), codec=codec,
            sync_seed=idx,
        )
        with open(os.path.join(path, f"part-{idx:05d}.avro"), "wb") as f:
            f.write(data)
        return iter((1,))

    df.rdd.mapPartitionsWithIndex(write_part).count()


# ----------------------------------------------------- photon wire schemas
_NS = "com.linkedin.photon.avro.generated"

# photon-avro-schemas/src/main/avro/TrainingExampleAvro.avsc (FeatureAvro
# inlined at first use, then referenced by name — standard Avro practice)
TRAINING_EXAMPLE_SCHEMA = json.dumps({
    "name": "TrainingExampleAvro", "namespace": _NS, "type": "record",
    "fields": [
        {"name": "uid", "type": ["null", "string"], "default": None},
        {"name": "label", "type": "double"},
        {"name": "features", "type": {"type": "array", "items": {
            "name": "FeatureAvro", "namespace": _NS, "type": "record",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "term", "type": "string"},
                {"name": "value", "type": "double"},
            ]}}},
        {"name": "metadataMap",
         "type": ["null", {"type": "map", "values": "string"}],
         "default": None},
        {"name": "weight", "type": ["null", "double"], "default": None},
        {"name": "offset", "type": ["null", "double"], "default": None},
    ],
})

# photon-avro-schemas/src/main/avro/BayesianLinearModelAvro.avsc
BAYESIAN_LINEAR_MODEL_SCHEMA = json.dumps({
    "name": "BayesianLinearModelAvro", "namespace": _NS, "type": "record",
    "fields": [
        {"name": "modelId", "type": "string"},
        {"name": "modelClass", "type": ["null", "string"], "default": None},
        {"name": "means", "type": {"type": "array", "items": {
            "name": "NameTermValueAvro", "namespace": _NS, "type": "record",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "term", "type": "string"},
                {"name": "value", "type": "double"},
            ]}}},
        {"name": "variances",
         "type": ["null", {"type": "array", "items": "NameTermValueAvro"}],
         "default": None},
        {"name": "lossFunction", "type": ["null", "string"], "default": None},
    ],
})

# photon-avro-schemas/src/main/avro/ScoringResultAvro.avsc
SCORING_RESULT_SCHEMA = json.dumps({
    "name": "ScoringResultAvro", "namespace": _NS, "type": "record",
    "fields": [
        {"name": "uid", "type": ["null", "string"], "default": None},
        {"name": "label", "type": ["null", "double"], "default": None},
        {"name": "modelId", "type": "string"},
        {"name": "predictionScore", "type": "double"},
        {"name": "weight", "type": ["null", "double"], "default": None},
        {"name": "metadataMap",
         "type": ["null", {"type": "map", "values": "string"}],
         "default": None},
    ],
})

# photon-avro-schemas/src/main/avro/ResponsePredictionAvro.avsc — the
# "SimplifiedResponsePrediction" scoring-input format (weight/offset
# carry schema-level defaults rather than nullable unions)
RESPONSE_PREDICTION_SCHEMA = json.dumps({
    "name": "SimplifiedResponsePrediction", "namespace": _NS,
    "type": "record",
    "fields": [
        {"name": "response", "type": "double"},
        {"name": "features", "type": {"type": "array", "items": {
            "name": "FeatureAvro", "namespace": _NS, "type": "record",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "term", "type": "string"},
                {"name": "value", "type": "double"},
            ]}}},
        {"name": "weight", "type": "double", "default": 1.0},
        {"name": "offset", "type": "double", "default": 0.0},
    ],
})

# photon-avro-schemas/src/main/avro/FeatureSummarizationResultAvro.avsc
FEATURE_SUMMARIZATION_SCHEMA = json.dumps({
    "name": "FeatureSummarizationResultAvro", "namespace": _NS,
    "type": "record",
    "fields": [
        {"name": "featureName", "type": "string"},
        {"name": "featureTerm", "type": "string"},
        {"name": "metrics", "type": {"type": "map", "values": "double"}},
    ],
})

# photon-avro-schemas/src/main/avro/LatentFactorAvro.avsc (the matrix-
# factorization persistence format; the reference ships the schema with
# no trainer — supported here so existing factor files keep reading)
LATENT_FACTOR_SCHEMA = json.dumps({
    "name": "LatentFactorAvro", "namespace": _NS, "type": "record",
    "fields": [
        {"name": "effectId", "type": "string"},
        {"name": "latentFactor",
         "type": {"type": "array", "items": "double"}},
    ],
})

INTERCEPT_NAME = "(INTERCEPT)"  # Constants.scala INTERCEPT_NAME/TERM
INTERCEPT_TERM = ""


def read_training_examples(
    spark: SparkSession,
    path: str,
    column_names: dict[str, str] | None = None,
) -> DataFrame:
    """S1/S2: TrainingExampleAvro files → the engine's conventional
    frame (uid, response, weight, offset, features name/term/value
    bags), defaults applied as AvroDataReader.scala:85-208 does
    (weight→1.0, offset→0.0).

    ``column_names`` maps canonical field names (uid, response, weight,
    offset, features, metadataMap) to the file's actual column names —
    the reference's InputColumnsNames override (exercised by its
    different-column-names/diff-col-names.avro fixture, where the
    label column is ``the_label``, weight ``w``, offset ``intercept``).
    With an override the writer schema is taken as-is (wide unions
    resolve per _resolve_wide_union) and fields are renamed/coerced
    into the conventional frame."""
    if column_names:
        unknown = sorted(
            set(column_names)
            - {"uid", "response", "weight", "offset", "features",
               "metadataMap"}
        )
        if unknown:
            raise ValueError(
                f"column_names maps unknown canonical field(s) {unknown}"
            )
        raw = read_avro(spark, path)
        cols = set(raw.columns)

        def actual(canon: str) -> str:
            return column_names.get(canon, canon)

        if actual("response") not in cols:
            raise ValueError(
                f"response column {actual('response')!r} absent from "
                f"input columns {sorted(cols)}"
            )
        if actual("features") not in cols:
            raise ValueError(
                f"features column {actual('features')!r} absent from "
                f"input columns {sorted(cols)}"
            )
        uid = _uid_or_generated(
            F.col(actual("uid"))
            if actual("uid") in cols
            else F.lit(None).cast("string")
        )
        weight = (
            F.coalesce(F.col(actual("weight")).cast("double"), F.lit(1.0))
            if actual("weight") in cols
            else F.lit(1.0)
        )
        offset = (
            F.coalesce(F.col(actual("offset")).cast("double"), F.lit(0.0))
            if actual("offset") in cols
            else F.lit(0.0)
        )
        meta = (
            F.col(actual("metadataMap")).cast("map<string,string>")
            if actual("metadataMap") in cols
            else F.lit(None).cast("map<string,string>")
        )
        feats = F.transform(
            F.col(actual("features")),
            lambda s: F.struct(
                s["name"].cast("string").alias("name"),
                F.coalesce(s["term"].cast("string"), F.lit("")).alias(
                    "term"
                ),
                s["value"].cast("double").alias("value"),
            ),
        )
        return raw.select(
            uid.alias("uid"),
            F.col(actual("response")).cast("double").alias("response"),
            weight.alias("weight"),
            offset.alias("offset"),
            feats.alias("features"),
            meta.alias("metadataMap"),
        )
    raw = read_avro(spark, path, avro_schema=TRAINING_EXAMPLE_SCHEMA)
    return raw.select(
        _uid_or_generated(F.col("uid")).alias("uid"),
        F.col("label").alias("response"),
        F.coalesce(F.col("weight"), F.lit(1.0)).alias("weight"),
        F.coalesce(F.col("offset"), F.lit(0.0)).alias("offset"),
        F.col("features"),
        F.col("metadataMap"),
    )


def _uid_or_generated(uid_col):
    """uid is OPTIONAL in TrainingExampleAvro (the reference's own
    heart.avro writes all-null uids) but the engine's assembly and
    residual joins key on it — null uids would silently drop every
    feature at the groupBy(uid)/join-back step. Null rows get a
    generated id (P2, the reference's zipWithUniqueId at ingest,
    GameConverters/DataProcessingUtils), prefixed so it can never
    collide with a real uid."""
    return F.coalesce(
        uid_col.cast("string"),
        F.concat(F.lit("__uid_"), F.monotonically_increasing_id()),
    )


def write_training_examples(df: DataFrame, path: str) -> None:
    """S11: conventional frame → TrainingExampleAvro files."""
    out = df.select(
        F.col("uid").cast("string").alias("uid"),
        F.col("response").cast("double").alias("label"),
        F.col("features"),
        (
            F.col("metadataMap") if "metadataMap" in df.columns
            else F.lit(None).cast("map<string,string>")
        ).alias("metadataMap"),
        (F.col("weight") if "weight" in df.columns else F.lit(1.0))
        .cast("double").alias("weight"),
        (F.col("offset") if "offset" in df.columns else F.lit(0.0))
        .cast("double").alias("offset"),
    )
    write_avro(out, path, TRAINING_EXAMPLE_SCHEMA)


def read_response_predictions(spark: SparkSession, path: str) -> DataFrame:
    """SimplifiedResponsePrediction files → conventional frame
    (response, weight, offset, features). The reference reads this as
    its scoring-input format (AvroDataReader honors the schema's
    weight=1.0 / offset=0.0 defaults; OCF files always carry concrete
    values, so the read is a straight projection)."""
    raw = read_avro(spark, path, avro_schema=RESPONSE_PREDICTION_SCHEMA)
    return raw.select("response", "weight", "offset", "features")


def write_response_predictions(df: DataFrame, path: str) -> None:
    """Conventional frame → SimplifiedResponsePrediction files; absent
    weight/offset columns take the schema defaults (1.0 / 0.0)."""
    out = df.select(
        F.col("response").cast("double").alias("response"),
        F.col("features"),
        (F.col("weight") if "weight" in df.columns else F.lit(1.0))
        .cast("double").alias("weight"),
        (F.col("offset") if "offset" in df.columns else F.lit(0.0))
        .cast("double").alias("offset"),
    )
    write_avro(out, path, RESPONSE_PREDICTION_SCHEMA)


def read_feature_summaries(spark: SparkSession, path: str) -> DataFrame:
    """S10 summary scan: FeatureSummarizationResultAvro files →
    (featureName, featureTerm, metrics map<string,double>)."""
    return read_avro(spark, path, avro_schema=FEATURE_SUMMARIZATION_SCHEMA)


def write_feature_summaries(df: DataFrame, path: str) -> None:
    """S10 summary sink in the reference wire format
    (ModelProcessingUtils.scala:514-604): expects columns featureName,
    featureTerm, metrics (map<string,double>)."""
    out = df.select(
        F.col("featureName").cast("string").alias("featureName"),
        F.col("featureTerm").cast("string").alias("featureTerm"),
        F.col("metrics"),
    )
    write_avro(out, path, FEATURE_SUMMARIZATION_SCHEMA)


def read_latent_factors(spark: SparkSession, path: str) -> DataFrame:
    """LatentFactorAvro files → (effectId, latentFactor array<double>).
    The reference ships this schema with no trainer; reading keeps a
    migrating user's existing factor files usable (e.g. as an
    embedding table for the similarity operators)."""
    return read_avro(spark, path, avro_schema=LATENT_FACTOR_SCHEMA)


def write_latent_factors(df: DataFrame, path: str) -> None:
    """(effectId, latentFactor) frame → LatentFactorAvro files."""
    out = df.select(
        F.col("effectId").cast("string").alias("effectId"),
        F.col("latentFactor"),
    )
    write_avro(out, path, LATENT_FACTOR_SCHEMA)


def _name_term_entries(dictionary: DataFrame, values: DataFrame) -> DataFrame:
    """(feature_index, value) resolved through the dictionary into
    (__i, name, term, value) — the shared key→(name, term) split both
    the means and variances writers use. First-separator split (the
    shape of str.partition): a term containing the separator must
    round-trip to the same slot."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP

    key = F.col("feature_key")
    sep_pos = F.instr(key, FEATURE_KEY_SEP)
    return dictionary.join(F.broadcast(values), "feature_index").select(
        F.col("feature_index").alias("__i"),
        F.substring_index(key, FEATURE_KEY_SEP, 1).alias("name"),
        F.when(
            sep_pos > 0, key.substr(sep_pos + F.lit(1), F.length(key))
        ).otherwise(F.lit("")).alias("term"),
        "value",
    )


def fixed_effect_to_avro_frame(
    spark: SparkSession,
    model,
    dictionary: DataFrame,
    model_id: str = "fixed",
    variances: DataFrame | None = None,
) -> DataFrame:
    """S9: FixedEffectGLM → one BayesianLinearModelAvro record, means
    keyed by (name, term) through the feature dictionary with the
    intercept as ("(INTERCEPT)", "") — ModelProcessingUtils.scala:
    77-166 layout.

    ``variances`` (optional): DataFrame(feature_index, variance) in
    the dictionary's index space (the native layout's saved variance
    table — which covers the intercept through the dictionary's own
    intercept slot). Nonzero entries ride the wire as the record's
    ``variances`` NameTermValueAvro array, exactly how the reference
    persists ``Coefficients.variancesOption`` (AvroUtils.scala:
    convertGLMModelToBayesianLinearModelAvro, same keying and sparsity
    filter as the means) — so incremental learning on the other side
    (PriorDistribution.scala:23-120) sees the σ² instead of silently
    degrading to plain L2.

    Distributed shape: the dictionary (the reference's own >200k-key
    regime) NEVER hits the driver — only the model's NONZERO
    coefficients ship out as a small broadcast frame, the (key → name,
    term) resolution runs as a join, and the single Avro record is
    aggregated executor-side (collect_list ordered by feature index).
    The record itself is O(nnz) — inherently one row, same as the
    reference's Broadcast model."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP

    nz = [
        (int(i), float(v))
        for i, v in enumerate(model.coefficients)
        if v != 0.0
    ]
    coef = spark.createDataFrame(nz, "feature_index bigint, value double")
    entries = _name_term_entries(dictionary, coef)
    mean_struct = lambda n, t, v: F.struct(  # noqa: E731
        n.alias("name"), t.alias("term"), v.alias("value")
    )
    rec = entries.agg(
        F.array_sort(
            F.collect_list(F.struct("__i", "name", "term", "value"))
        ).alias("__ms")
    ).select(
        F.lit(model_id).cast("string").alias("modelId"),
        F.lit(None).cast("string").alias("modelClass"),
        F.concat(
            F.transform(
                "__ms",
                lambda s: mean_struct(s["name"], s["term"], s["value"]),
            ),
            F.array(
                mean_struct(
                    F.lit(INTERCEPT_NAME),
                    F.lit(INTERCEPT_TERM),
                    F.lit(float(model.intercept)),
                )
            ),
        ).alias("means"),
        F.lit(None).cast(
            "array<struct<name:string,term:string,value:double>>"
        ).alias("variances"),
        F.lit(model.family).cast("string").alias("lossFunction"),
    )
    if variances is not None:
        # second O(dim) aggregation, crossJoined onto the 1-row record
        # (both sides single-row; the dictionary's intercept slot keys
        # the intercept variance as ("(INTERCEPT)", "") automatically).
        # A table already carrying feature_key (the native layout's
        # saved form, and loaded reference tables — whose intercept row
        # has a NULL index when the dictionary has no intercept slot)
        # resolves by its own keys; a bare (feature_index, variance)
        # table resolves through the dictionary.
        if "feature_key" in variances.columns:
            from photon_ml_spark.datamodel import FEATURE_KEY_SEP

            key = F.col("feature_key")
            sep_pos = F.instr(key, FEATURE_KEY_SEP)
            ventries = variances.filter(
                F.col("variance") != 0.0
            ).select(
                # intercept (null index) sorts last, like the means
                F.coalesce(
                    F.col("feature_index").cast("bigint"),
                    F.lit(1 << 62),
                ).alias("__i"),
                F.substring_index(key, FEATURE_KEY_SEP, 1).alias("name"),
                F.when(
                    sep_pos > 0,
                    key.substr(sep_pos + F.lit(1), F.length(key)),
                ).otherwise(F.lit("")).alias("term"),
                F.col("variance").cast("double").alias("value"),
            )
        else:
            ventries = _name_term_entries(
                dictionary,
                variances.select(
                    F.col("feature_index").cast("bigint").alias(
                        "feature_index"
                    ),
                    F.col("variance").cast("double").alias("value"),
                ).filter(F.col("value") != 0.0),
            )
        vrec = ventries.agg(
            F.array_sort(
                F.collect_list(F.struct("__i", "name", "term", "value"))
            ).alias("__vs")
        ).select(
            F.transform(
                "__vs",
                lambda s: mean_struct(s["name"], s["term"], s["value"]),
            ).alias("__variances")
        )
        rec = (
            rec.drop("variances")
            .crossJoin(F.broadcast(vrec))
            .withColumnRenamed("__variances", "variances")
        )
    return rec


def avro_frame_to_fixed_effect(
    rows: list[Row], dictionary: DataFrame, dim: int, family: str = "gaussian"
):
    """Inverse of fixed_effect_to_avro_frame (single-record frame).

    The key→index resolution is a join against the distributed
    dictionary (never a full-dictionary collect); the only collect is
    the join RESULT, which is ≤ the record's own nonzero-mean count —
    data the driver already holds in ``rows``. The dense coefficient
    vector is driver-resident by design (the reference's Broadcast
    fixed-effect model)."""
    import numpy as np

    from photon_ml_spark.datamodel import FEATURE_KEY_SEP
    from photon_ml_spark.ml.glm import FixedEffectGLM

    coef = np.zeros(dim)
    intercept = 0.0
    (row,) = rows
    means = []
    for m in row.means:
        if m.name == INTERCEPT_NAME and m.term == INTERCEPT_TERM:
            intercept = float(m.value)
            continue
        means.append(
            (
                f"{m.name or ''}{FEATURE_KEY_SEP}{m.term or ''}",
                float(m.value),
            )
        )
    if means:
        spark = dictionary.sparkSession
        mdf = spark.createDataFrame(means, "feature_key string, value double")
        resolved = dictionary.join(F.broadcast(mdf), "feature_key").select(
            "feature_index", "value"
        )
        for r in resolved.collect():
            if int(r.feature_index) < dim:
                coef[int(r.feature_index)] = float(r.value)
    return FixedEffectGLM(
        family=family, coefficients=coef, intercept=intercept, dim=dim,
        reg_param=0.0,
    )


def avro_frame_fixed_variances(
    rows: list[Row], dictionary: DataFrame
) -> DataFrame | None:
    """The variances half of avro_frame_to_fixed_effect's inverse: the
    single BayesianLinearModelAvro record's ``variances`` array →
    DataFrame(feature_key, feature_index, variance), indices resolved
    through the dictionary (feature_index null for keys outside it —
    notably the intercept, since loader-derived dictionaries carry no
    intercept slot). Returns None when the record carries no variances
    (the reference's variancesOption=None case)."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP

    from photon_ml_spark.datamodel import INTERCEPT_KEY

    (row,) = rows
    vs = getattr(row, "variances", None)
    if not vs:
        return None
    spark = dictionary.sparkSession
    # the intercept's native key is the bare INTERCEPT_KEY (that is
    # what build_feature_dictionary's slot and _fixed_prior's routing
    # match on), not name+SEP+term
    pairs = [
        (
            INTERCEPT_KEY
            if v.name == INTERCEPT_NAME and (v.term or "") == INTERCEPT_TERM
            else f"{v.name or ''}{FEATURE_KEY_SEP}{v.term or ''}",
            float(v.value),
        )
        for v in vs
    ]
    vdf = spark.createDataFrame(pairs, "feature_key string, variance double")
    return dictionary.join(F.broadcast(vdf), "feature_key", "right").select(
        "feature_key", "feature_index", "variance"
    )


def random_effects_to_avro_frame(
    models: DataFrame, dictionary: DataFrame, dim: int
) -> DataFrame:
    """S9 random-effect layout: one BayesianLinearModelAvro per entity
    (modelId=entity), means through the dictionary — DISTRIBUTED (the
    model table never touches the driver; per-entity vectors are
    small post-P7). ModelProcessingUtils.scala:167-265."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP

    # first-separator split (str.partition shape) — see the comment in
    # fixed_effect_to_avro_record: terms containing the separator must
    # round-trip intact
    key = F.col("feature_key")
    sep_pos = F.instr(key, FEATURE_KEY_SEP)
    idx_name_term = dictionary.select(
        F.col("feature_index").cast("int").alias("__i"),
        F.substring_index(key, FEATURE_KEY_SEP, 1).alias("__name"),
        F.when(
            sep_pos > 0, key.substr(sep_pos + F.lit(1), F.length(key))
        ).otherwise(F.lit("")).alias("__term"),
    )
    names = F.array_sort(
        F.collect_list(F.struct("__i", "__name", "__term"))
    )
    dict_arr = idx_name_term.agg(names.alias("d"))
    with_dict = models.crossJoin(F.broadcast(dict_arr))
    # the dictionary's intercept SLOT (present when the shard was
    # built has_intercept) must not emit a per-slot entry: its key
    # ("(INTERCEPT)", "") is owned by the dedicated intercept/
    # intercept_variance entries below, and a duplicate key would make
    # the reader's F.first pick arbitrarily (a per-entity local fit
    # leaves the never-observed slot with junk σ² = 1/l2)
    nz = F.filter(
        F.zip_with(
            "coefficients",
            F.slice("d", 1, dim),
            lambda c, e: F.struct(
                e["__name"].alias("name"),
                e["__term"].alias("term"),
                c.alias("value"),
            ),
        ),
        lambda s: (s["value"] != 0.0)
        & ~(
            (s["name"] == INTERCEPT_NAME) & (s["term"] == INTERCEPT_TERM)
        ),
    )
    means = F.concat(
        nz,
        F.array(
            F.struct(
                F.lit(INTERCEPT_NAME).alias("name"),
                F.lit(INTERCEPT_TERM).alias("term"),
                F.col("intercept").cast("double").alias("value"),
            )
        ),
    )
    if "variances" in models.columns:
        # per-entity σ² ride the wire exactly like the means (the
        # reference persists Coefficients.variancesOption through the
        # same NameTermValueAvro list, AvroUtils.scala:340-352); the
        # intercept variance keys as ("(INTERCEPT)", "") when the
        # table carries intercept_variance
        nzv = F.filter(
            F.zip_with(
                "variances",
                F.slice("d", 1, dim),
                lambda c, e: F.struct(
                    e["__name"].alias("name"),
                    e["__term"].alias("term"),
                    c.alias("value"),
                ),
            ),
            lambda s: (s["value"] != 0.0)
            & ~(
                (s["name"] == INTERCEPT_NAME)
                & (s["term"] == INTERCEPT_TERM)
            ),
        )
        if "intercept_variance" in models.columns:
            # null intercept_variance must not inject a null into the
            # non-nullable NameTermValueAvro.value
            var_arr = F.when(
                F.col("intercept_variance").isNotNull(),
                F.concat(
                    nzv,
                    F.array(
                        F.struct(
                            F.lit(INTERCEPT_NAME).alias("name"),
                            F.lit(INTERCEPT_TERM).alias("term"),
                            F.col("intercept_variance").cast("double").alias(
                                "value"
                            ),
                        )
                    ),
                ),
            ).otherwise(nzv)
        else:
            var_arr = nzv
        variances = F.when(F.col("variances").isNotNull(), var_arr)
    else:
        variances = F.lit(None).cast(
            "array<struct<name:string,term:string,value:double>>"
        )
    return with_dict.select(
        F.col("entity").alias("modelId"),
        F.lit(None).cast("string").alias("modelClass"),
        means.alias("means"),
        variances.alias("variances"),
        F.lit(None).cast("string").alias("lossFunction"),
    )


def avro_frame_to_random_effects(
    avro_df: DataFrame,
    dictionary: DataFrame,
    dim: int,
    include_variances: bool = False,
) -> DataFrame:
    """Inverse: BayesianLinearModelAvro frame → (entity, coefficients,
    intercept) model table, dense arrays rebuilt through the
    dictionary join (distributed; unknown keys dropped).

    ``include_variances=True`` additionally densifies the records'
    ``variances`` NameTermValue arrays into ``variances``/
    ``intercept_variance`` columns (null for entities whose record
    carries none) — the shape ``ml.random_effects.fit_random_effects``
    accepts as a variance-bearing prior model, closing the reference's
    incremental-learning loop (PriorDistribution.scala:23-120)."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP

    def _exploded(col: str) -> DataFrame:
        return avro_df.select(
            F.col("modelId").alias("entity"),
            F.explode(col).alias("m"),
        ).select(
            "entity",
            # null-safe (concat_ws skips nulls — a null term would
            # build a separator-less key no featurized column matches)
            F.concat(
                F.coalesce(F.col("m.name"), F.lit("")),
                F.lit(FEATURE_KEY_SEP),
                F.coalesce(F.col("m.term"), F.lit("")),
            ).alias("feature_key"),
            F.col("m.name").alias("__name"),
            F.col("m.value").alias("value"),
        )

    # intercept routing matches the FULL (name, term) pair — via the
    # already-built key, so a feature literally named "(INTERCEPT)"
    # with a non-empty term stays a feature (the reference keys
    # NameAndTerm pairs, Constants INTERCEPT_NAME/TERM — name alone is
    # not the intercept identity)
    int_key = f"{INTERCEPT_NAME}{FEATURE_KEY_SEP}{INTERCEPT_TERM}"
    ex = _exploded("means")
    inter = (
        ex.filter(F.col("feature_key") == int_key)
        .groupBy("entity")
        .agg(F.first("value").alias("intercept"))
    )
    feats = (
        ex.filter(F.col("feature_key") != int_key)
        .join(F.broadcast(dictionary), "feature_key", "inner")
        .groupBy("entity")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("feature_index", "value"))
            ).alias("__pairs")
        )
    )
    # base = EVERY record's entity — not the intercept rows: a
    # reference model trained without intercept writes no
    # ("(INTERCEPT)", "") mean (ModelProcessingUtils keys it only when
    # the index map carries it), and keying off `inter` would silently
    # drop all such entities. Missing intercept loads as 0.0, matching
    # avro_frame_to_fixed_effect.
    base = avro_df.select(F.col("modelId").alias("entity")).distinct()
    sparse = (
        base.join(inter, "entity", "left")
        .join(feats, "entity", "left")
        .select(
            "entity",
            "__pairs",
            F.coalesce(F.col("intercept"), F.lit(0.0))
            .cast("double")
            .alias("intercept"),
        )
    )
    if include_variances:
        vx = _exploded("variances")
        vinter = (
            vx.filter(F.col("feature_key") == int_key)
            .groupBy("entity")
            .agg(F.first("value").alias("intercept_variance"))
        )
        vfeats = (
            vx.filter(F.col("feature_key") != int_key)
            .join(F.broadcast(dictionary), "feature_key", "inner")
            .groupBy("entity")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("feature_index", "value"))
                ).alias("__vpairs")
            )
        )
        sparse = (
            sparse.join(vfeats, "entity", "left")
            .join(vinter, "entity", "left")
            .select(
                "entity", "__pairs", "intercept", "__vpairs",
                F.col("intercept_variance").cast("double").alias(
                    "intercept_variance"
                ),
            )
        )
    # Pin parallelism through the EXPANSION: the sparse relation is a
    # few MB, so AQE coalesces the join's exchanges to ~1 partition —
    # but the next stage inflates each row to a dim-wide dense vector
    # (60x+ at 15k dims), and a single task then owns the whole
    # gigabyte-scale output. A ROUND-ROBIN numbered repartition is the
    # one form that survives: an entity-hashed repartition here is
    # removed by Catalyst as redundant with the join's existing hash
    # distribution, whose ENSURE_REQUIREMENTS exchanges AQE then
    # coalesces on INPUT size — output-expanding stages are invisible
    # to input-size-based coalescing (PLANS.md r10).
    spark = avro_df.sparkSession
    sparse = sparse.repartition(spark.sparkContext.defaultParallelism)

    # Densify via a vectorized numpy scatter (Arrow mapInPandas):
    # O(nnz) writes into an O(dim) buffer per entity. The Catalyst
    # alternatives are all superlinear in dim at wide shard spaces —
    # the original map-per-position form was O(dim·nnz) map
    # ALLOCATIONS per row (396 s to score ONE row against the
    # 15003-dim golden per-song table), a let-bound map still pays
    # O(dim·nnz) linear map SCANS (34 s) — the scatter is ~1 s. This
    # is exactly SURVEY §4's sanctioned-Python criterion: per-entity
    # vector assembly, no relational form without a quadratic term.
    import numpy as np
    import pandas as pd

    fields = [
        T.StructField("entity", T.StringType(), True),
        T.StructField("coefficients", T.ArrayType(T.DoubleType()), False),
        T.StructField("intercept", T.DoubleType(), True),
    ]
    if include_variances:
        fields += [
            T.StructField("variances", T.ArrayType(T.DoubleType()), True),
            T.StructField("intercept_variance", T.DoubleType(), True),
        ]
    out_schema = T.StructType(fields)

    def _dense(pairs_series, n):
        buf = np.zeros((n, dim))  # one contiguous scatter target
        for r, pairs in enumerate(pairs_series):
            if pairs is not None:
                for p in pairs:
                    buf[r, int(p["feature_index"])] = float(p["value"])
        return buf

    def scatter(batches):
        for pdf in batches:
            n = len(pdf)
            buf = _dense(pdf["__pairs"], n)
            cols = {
                "entity": pdf["entity"].astype(str),
                # ndarray rows, not tolist(): Arrow builds the
                # ListArray from the buffers without materializing
                # dim Python floats per entity
                "coefficients": list(buf),
                "intercept": pdf["intercept"],
            }
            if include_variances:
                vbuf = _dense(pdf["__vpairs"], n)
                # entities whose record carried NO variances stay null
                # (vs an all-zero vector, which would mean "infinite
                # precision" to a prior consumer)
                has_v = [
                    # a SQL null intercept_variance arrives as NaN in
                    # the float column, not None (NaN != NaN)
                    vp is not None or (iv is not None and iv == iv)
                    for vp, iv in zip(
                        pdf["__vpairs"], pdf["intercept_variance"]
                    )
                ]
                cols["variances"] = [
                    vbuf[r] if has_v[r] else None for r in range(n)
                ]
                cols["intercept_variance"] = pdf["intercept_variance"]
            yield pd.DataFrame(cols)

    return sparse.mapInPandas(scatter, schema=out_schema)
