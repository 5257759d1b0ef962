"""Pure-Python Avro binary codec + Arrow-batched DataFrame decode/encode.

Parity targets in the reference:
- decode: KafkaAvroMessageDecoder.decode (KafkaAvroMessageDecoder.java:153-177)
  — one whole-payload Avro datum per Kafka message, RAW framing (no Confluent
  magic byte / schema-id header; see BaseProducer.java:44-54).
- encode: BaseProducer.serializeAvro (BaseProducer.java:44-54).

This environment ships no spark-avro jar and no fastavro, so the engine
carries its own wire-format implementation (Avro 1.x binary encoding:
zigzag varints, little-endian IEEE floats, length-prefixed bytes/strings,
block-coded arrays/maps, index-prefixed unions).  On a cluster with
spark-avro available, sources.kafka_io prefers the JVM from_avro/to_avro
path; this codec is the dependency-free fallback and the reference
implementation for tests.

DataFrame integration is mapInPandas (Arrow batches) — per-batch Python cost,
never per-row pickling.
"""

from __future__ import annotations

import io
import json
import struct as _struct
from collections.abc import Iterator
from datetime import date, datetime, timedelta, timezone
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

from hiveka_spark.schema import avro_to_struct

# --------------------------------------------------------------------------
# wire-level primitives
# --------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(out: io.BytesIO, n: int) -> None:
    n = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_varint(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return _zigzag_decode(acc)


# --------------------------------------------------------------------------
# logical types: naive datetimes are UTC (the engine pins the session time
# zone to UTC, so that is what Spark hands a pandas UDF)
# --------------------------------------------------------------------------

_EPOCH = datetime(1970, 1, 1)
_TIME_UNITS = {"timestamp-micros": 1, "timestamp-millis": 1000}


def _is_logical_value(logical: str, value: Any) -> bool:
    if logical in _TIME_UNITS:
        return isinstance(value, datetime)
    if logical == "date":
        return isinstance(value, date) and not isinstance(value, datetime)
    return False


def _to_wire(logical: str, value: Any) -> int:
    if logical == "date":
        return (value - _EPOCH.date()).days
    if value.tzinfo is not None:
        value = value.astimezone(timezone.utc).replace(tzinfo=None)
    d = value - _EPOCH
    micros = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    return micros // _TIME_UNITS[logical]


def _from_wire(logical: str, n: Any) -> Any:
    if logical == "date":
        return _EPOCH.date() + timedelta(days=n)
    if logical in _TIME_UNITS:
        return _EPOCH + timedelta(microseconds=n * _TIME_UNITS[logical])
    return n


# --------------------------------------------------------------------------
# schema-driven encode/decode
# --------------------------------------------------------------------------


def _norm(schema: Any) -> Any:
    """Unwrap {"type": "string"}-style wrappers (but keep logical/complex)."""
    if isinstance(schema, dict) and set(schema) == {"type"}:
        return schema["type"]
    return schema


def _branch_matches(branch: Any, value: Any) -> bool:
    """Does a Python value belong to this (non-null) union branch?"""
    branch = _norm(branch)
    if isinstance(branch, str):
        return {
            "boolean": lambda v: isinstance(v, bool),
            "int": lambda v: isinstance(v, int) and not isinstance(v, bool),
            "long": lambda v: isinstance(v, int) and not isinstance(v, bool),
            "float": lambda v: isinstance(v, float),
            "double": lambda v: isinstance(v, float),
            "string": lambda v: isinstance(v, str),
            "bytes": lambda v: isinstance(v, (bytes, bytearray)),
        }.get(branch, lambda v: False)(value)
    kind = branch.get("type")
    if kind == "record":
        return isinstance(value, dict)
    if kind == "map":
        return isinstance(value, dict)
    if kind == "array":
        return isinstance(value, (list, tuple))
    if "logicalType" in branch:
        return _is_logical_value(branch["logicalType"], value) or _branch_matches(
            kind, value
        )
    return False


def _encode_value(out: io.BytesIO, schema: Any, value: Any) -> None:
    schema = _norm(schema)
    if isinstance(schema, list):  # union: write branch index, then value
        if (value is None or value is pd.NaT) and "null" in schema:
            _write_varint(out, schema.index("null"))
            return
        # select the branch by the VALUE's Python type — writing the first
        # non-null branch unconditionally would coerce e.g. an int into the
        # 'string' branch of ['null','string','int'] and external Avro
        # readers would see garbage (self-roundtrip hides it)
        matches = [
            (idx, b) for idx, b in enumerate(schema)
            if b != "null" and _branch_matches(b, value)
        ]
        if not matches and isinstance(value, float) and not any(
            _norm(b) in ("float", "double") for b in schema
        ):
            # pandas/Arrow reality: a nullable int64 column arrives as
            # float64 (485.0, NaN-for-null).  Only when the union has no
            # true float branch: NaN -> null, integral float -> int/long.
            import math

            if math.isnan(value) and "null" in schema:
                _write_varint(out, schema.index("null"))
                return
            if value.is_integer():
                matches = [
                    (idx, b) for idx, b in enumerate(schema)
                    if _norm(b) in ("int", "long")
                ]
        if not matches:
            raise ValueError(f"no union branch for value {value!r} in {schema}")
        if len(matches) > 1:
            raise ValueError(
                f"ambiguous union branches {[b for _, b in matches]} for value "
                f"{value!r}; narrow the union or pre-coerce the value"
            )
        idx, branch = matches[0]
        _write_varint(out, idx)
        _encode_value(out, branch, value)
        return
    if isinstance(schema, str):
        if schema == "null":
            return
        if schema == "boolean":
            out.write(b"\x01" if value else b"\x00")
        elif schema in ("int", "long"):
            _write_varint(out, int(value))
        elif schema == "float":
            out.write(_struct.pack("<f", float(value)))
        elif schema == "double":
            out.write(_struct.pack("<d", float(value)))
        elif schema == "string":
            raw = str(value).encode("utf-8")
            _write_varint(out, len(raw))
            out.write(raw)
        elif schema == "bytes":
            raw = bytes(value)
            _write_varint(out, len(raw))
            out.write(raw)
        else:
            raise ValueError(f"unsupported primitive {schema}")
        return
    kind = schema["type"]
    if kind == "record":
        for f in schema["fields"]:
            _encode_value(out, f["type"], value.get(f["name"]) if isinstance(value, dict) else getattr(value, f["name"]))
    elif kind == "array":
        items = list(value or [])
        if items:
            _write_varint(out, len(items))
            for item in items:
                _encode_value(out, schema["items"], item)
        _write_varint(out, 0)
    elif kind == "map":
        entries = dict(value or {})
        if entries:
            _write_varint(out, len(entries))
            for k, v in entries.items():
                _encode_value(out, "string", k)
                _encode_value(out, schema["values"], v)
        _write_varint(out, 0)
    elif "logicalType" in schema:
        if _is_logical_value(schema["logicalType"], value):
            value = _to_wire(schema["logicalType"], value)
        _encode_value(out, kind, value)
    else:
        raise ValueError(f"unsupported Avro schema {schema!r}")


def _read_exact(buf: io.BytesIO, n: int) -> bytes:
    """Length-checked read: truncated payloads must RAISE (and get the
    PERMISSIVE null-record treatment), never yield silently wrong values
    (bare buf.read(1) on EOF decodes as boolean False)."""
    raw = buf.read(n)
    if len(raw) != n:
        raise EOFError(f"truncated payload: wanted {n} bytes, got {len(raw)}")
    return raw


def _decode_value(buf: io.BytesIO, schema: Any) -> Any:
    schema = _norm(schema)
    if isinstance(schema, list):
        idx = _read_varint(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union branch index {idx} out of range for {schema}")
        return _decode_value(buf, schema[idx])
    if isinstance(schema, str):
        if schema == "null":
            return None
        if schema == "boolean":
            return _read_exact(buf, 1) == b"\x01"
        if schema in ("int", "long"):
            return _read_varint(buf)
        if schema == "float":
            return _struct.unpack("<f", _read_exact(buf, 4))[0]
        if schema == "double":
            return _struct.unpack("<d", _read_exact(buf, 8))[0]
        if schema == "string":
            n = _read_varint(buf)
            return _read_exact(buf, n).decode("utf-8")
        if schema == "bytes":
            n = _read_varint(buf)
            return _read_exact(buf, n)
        raise ValueError(f"unsupported primitive {schema}")
    kind = schema["type"]
    if kind == "record":
        return {f["name"]: _decode_value(buf, f["type"]) for f in schema["fields"]}
    if kind == "array":
        out = []
        while True:
            n = _read_varint(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                _read_varint(buf)
                n = -n
            for _ in range(n):
                out.append(_decode_value(buf, schema["items"]))
    if kind == "map":
        out = {}
        while True:
            n = _read_varint(buf)
            if n == 0:
                return out
            if n < 0:
                _read_varint(buf)
                n = -n
            for _ in range(n):
                k = _decode_value(buf, "string")
                out[k] = _decode_value(buf, schema["values"])
    if "logicalType" in schema:
        return _from_wire(schema["logicalType"], _decode_value(buf, kind))
    raise ValueError(f"unsupported Avro schema {schema!r}")


def encode_record(schema: dict, record: dict) -> bytes:
    """One record -> raw Avro binary (no header, matching the reference's
    framing)."""
    out = io.BytesIO()
    _encode_value(out, schema, record)
    return out.getvalue()


# --------------------------------------------------------------------------
# Confluent wire framing: 1-byte magic 0x00 + 4-byte big-endian schema id
# --------------------------------------------------------------------------
#
# The reference DECLARES a schema-registry decode path but ships it disabled
# (KafkaAvroMessageDecoder.java:96,131-144; SchemaRegistry.java:16-62) and its
# producers write raw Avro with no header (BaseProducer.java:44-54).  Raw is
# therefore the parity default; Confluent framing is the first thing a real
# Kafka deployment hits, so the engine implements it for real against
# `FileSchemaRegistry` — magic byte, registry-resolved writer schema per
# record, reader-schema resolution on decode.

CONFLUENT_MAGIC = 0x00
_CONFLUENT_HEADER_LEN = 5

FRAMINGS = ("raw", "confluent")


def frame_confluent(payload: bytes, schema_id: int) -> bytes:
    """Wrap a raw Avro payload in the Confluent wire header."""
    if not 0 <= schema_id <= 0x7FFFFFFF:
        raise ValueError(f"schema id {schema_id} out of int32 range")
    return bytes([CONFLUENT_MAGIC]) + schema_id.to_bytes(4, "big") + payload


def unframe_confluent(raw: bytes) -> tuple[int, bytes]:
    """Split a Confluent-framed message into (schema_id, avro_payload).

    Raises ValueError on a wrong magic byte or truncated header — under
    PERMISSIVE decode that surfaces as the standard null-record treatment,
    under FAILFAST it propagates."""
    if len(raw) < _CONFLUENT_HEADER_LEN:
        raise ValueError(
            f"confluent frame too short: {len(raw)} bytes (< {_CONFLUENT_HEADER_LEN})"
        )
    if raw[0] != CONFLUENT_MAGIC:
        raise ValueError(
            f"bad confluent magic byte 0x{raw[0]:02x} (expected 0x00) — "
            "payload is not Confluent-framed; use framing='raw'"
        )
    return int.from_bytes(raw[1:5], "big"), raw[5:]


def _check_framing(framing: str) -> None:
    if framing not in FRAMINGS:
        raise ValueError(f"unknown framing {framing!r}; expected one of {FRAMINGS}")


def decode_record(schema: dict, payload: bytes) -> dict:
    buf = io.BytesIO(payload)
    rec = _decode_value(buf, schema)
    if buf.read(1) != b"":
        # a corrupt-but-parseable prefix must not pass as a valid record —
        # trailing bytes mean the payload was not this schema's encoding
        raise ValueError("trailing bytes after Avro record")
    return rec


# --------------------------------------------------------------------------
# DataFrame-level: Arrow-batched decode/encode over a binary `value` column
# --------------------------------------------------------------------------


def decode_avro_df(
    df: DataFrame,
    avro_schema: dict | str,
    value_col: str = "value",
    mode: str = "PERMISSIVE",
    keep_cols: list[str] | None = None,
    framing: str = "raw",
    schemas_by_id: dict[int, dict] | None = None,
) -> DataFrame:
    """Decode a binary Avro ``value`` column into typed columns via
    mapInPandas.

    ``mode='PERMISSIVE'`` nulls out corrupt payloads (the reference's
    skip-bad-records policy, KafkaRecordReader.java:130-140,261-264);
    ``mode='FAILFAST'`` raises — the (dead) `etl.ignore.schema.errors` knob
    done properly.

    ``framing='confluent'``: each message carries the 0x00 magic byte + 4-byte
    big-endian schema id; the WRITER schema is looked up per record in
    ``schemas_by_id`` (resolved from the registry on the driver — workers get
    a plain broadcast dict, never a registry round-trip per record) and the
    decoded record is resolved to ``avro_schema`` (the READER schema) per the
    Avro spec — defaults for added fields, numeric promotion, drops.  Wrong
    magic, truncated header, or an id absent from ``schemas_by_id`` get the
    bad-record treatment of ``mode``."""
    _check_framing(framing)
    schema_dict = json.loads(avro_schema) if isinstance(avro_schema, str) else avro_schema
    out_struct = avro_to_struct(schema_dict)
    keep = keep_cols or []
    in_df = df.select(*keep, value_col)

    import pyspark.sql.types as T

    full_schema = T.StructType(
        [df.schema[c] for c in keep] + list(out_struct.fields)
    )
    failfast = mode.upper() == "FAILFAST"
    confluent = framing == "confluent"
    writer_schemas = schemas_by_id or {}

    def decode_one(payload: bytes) -> dict:
        if not confluent:
            return decode_record(schema_dict, payload)
        sid, body = unframe_confluent(payload)
        writer = writer_schemas.get(sid)
        if writer is None:
            if not writer_schemas:
                writer = schema_dict  # no registry map: single-schema topic
            else:
                raise ValueError(f"unknown schema id {sid} (not in registry map)")
        rec = decode_record(writer, body)
        if writer != schema_dict:
            from hiveka_spark.sources.schema_registry import resolve_record

            rec = resolve_record(writer, schema_dict, rec)
        return rec

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        field_names = [f["name"] for f in schema_dict["fields"]]
        for pdf in batches:
            rows = []
            for tup in pdf.itertuples(index=False):
                vals = tup._asdict()
                payload = vals.pop(value_col)
                try:
                    rec = decode_one(bytes(payload))
                except Exception:
                    if failfast:
                        raise
                    rec = {n: None for n in field_names}
                rows.append({**vals, **rec})
            yield pd.DataFrame(rows, columns=list(keep) + field_names)

    return in_df.mapInPandas(run, full_schema)


def encode_avro_df(
    df: DataFrame,
    avro_schema: dict | str,
    value_alias: str = "value",
    key_col: str | None = None,
    ts_col: str | None = None,
    framing: str = "raw",
    schema_id: int | None = None,
    tombstone_col: str | None = None,
) -> DataFrame:
    """Encode rows into a binary Avro ``value`` column (+ optional key) —
    the real implementation of the reference's stubbed write path
    (KafkaOutputFormat.java:28-39 returns a null RecordWriter).

    ``ts_col``: pass an event-time column through as the wire ``timestamp``
    (Kafka producer-record timestamp) so time-based offset resolution works
    downstream.  ``framing='confluent'`` prepends the 0x00 magic + big-endian
    ``schema_id`` header (the id the schema was registered under).
    ``tombstone_col``: boolean column; marked rows encode as key-only
    NULL-value records (real ``cleanup.policy=compact`` tombstones)."""
    _check_framing(framing)
    if framing == "confluent" and schema_id is None:
        raise ValueError(
            "confluent framing needs schema_id — register the schema "
            "(FileSchemaRegistry.register) and pass the returned id"
        )
    schema_dict = json.loads(avro_schema) if isinstance(avro_schema, str) else avro_schema
    field_names = [f["name"] for f in schema_dict["fields"]]

    import pyspark.sql.types as T

    out_fields = [T.StructField(value_alias, T.BinaryType())]
    if key_col:
        out_fields.insert(0, T.StructField("key", T.BinaryType()))
    if ts_col:
        out_fields.append(T.StructField("timestamp", T.TimestampType()))
    out_schema = T.StructType(out_fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            colnames = list(pdf.columns)
            # name=None keeps plain tuples: namedtuple _asdict silently
            # RENAMES leading-underscore columns (e.g. a _tombstone flag)
            # to positional fields, losing them
            for tup in pdf.itertuples(index=False, name=None):
                vals = dict(zip(colnames, tup))
                if tombstone_col and bool(vals.get(tombstone_col)):
                    payload = None
                else:
                    payload = encode_record(
                        schema_dict, {n: vals.get(n) for n in field_names}
                    )
                    if framing == "confluent":
                        payload = frame_confluent(payload, schema_id)
                row = {value_alias: payload}
                if key_col:
                    kv = vals.get(key_col)
                    row["key"] = str(kv).encode("utf-8") if kv is not None else None
                if ts_col:
                    row["timestamp"] = vals.get(ts_col)
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_fields])

    return df.mapInPandas(run, out_schema)
