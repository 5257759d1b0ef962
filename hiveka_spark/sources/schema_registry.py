"""Schema registry + Avro schema resolution (SURVEY §2A A22, done for real).

The reference carries a SchemaRegistry interface with two implementations but
the wire path that would consult it is disabled (SchemaRegistry.java:16-62,
KafkaAvroMessageDecoder.java:131-144 — decode always uses the table-declared
schema).  This rebuild makes the feature actually work: a file-backed
versioned registry per topic plus Avro-spec schema RESOLUTION, so payloads
written under an old schema decode correctly under the topic's latest
(reader) schema — missing fields take declared defaults, numeric types
promote (int->long->float->double), and removed fields are dropped.
:func:`resolve_record` is the one resolution rule: ``kafka_io.decode_wire``
applies it per record to Confluent-framed payloads when given a registry.

Registry layout: ``<root>/<topic>/v<NNN>.avsc`` (immutable versions) — the
"latest" is the highest version, so concurrent readers never see a torn
pointer file.
"""

from __future__ import annotations

import json
import os
import re

from hiveka_spark import commit

_PROMOTIONS: dict[str, set[str]] = {
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


class FileSchemaRegistry:
    """Versioned .avsc store per topic — the subject/version model."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    def versions(self, topic: str) -> list[int]:
        d = self._dir(topic)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(m.group(1))
            for f in os.listdir(d)
            if (m := re.fullmatch(r"v(\d+)\.avsc", f))
        )

    def register(self, topic: str, schema: dict) -> int:
        """Append a new immutable schema version; returns the version id."""
        os.makedirs(self._dir(topic), exist_ok=True)
        version = (self.versions(topic) or [0])[-1] + 1
        commit.write_json(os.path.join(self._dir(topic), f"v{version}.avsc"), schema)
        return version

    def get(self, topic: str, version: int) -> dict:
        with open(os.path.join(self._dir(topic), f"v{version}.avsc")) as fh:
            return json.load(fh)

    def latest(self, topic: str) -> tuple[int, dict]:
        vs = self.versions(topic)
        if not vs:
            raise ValueError(f"no schema registered for topic {topic!r}")
        return vs[-1], self.get(topic, vs[-1])


# ----------------------------------------------------------- schema resolution
def _type_name(t) -> str:
    if isinstance(t, dict):
        return t.get("type", "")
    return t


def _non_null(t):
    """The non-null branch(es) of a union, or the type itself."""
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        return branches[0] if len(branches) == 1 else t
    return t


def _promote(value, writer_t, reader_t):
    wt, rt = _type_name(_non_null(writer_t)), _type_name(_non_null(reader_t))
    if value is None or wt == rt:
        return value
    if rt in _PROMOTIONS.get(wt, ()):  # Avro spec numeric/bytes promotions
        if rt in ("float", "double"):
            return float(value)
        if rt == "long":
            return int(value)
        if rt == "bytes" and isinstance(value, str):
            return value.encode("utf-8")
        if rt == "string" and isinstance(value, (bytes, bytearray)):
            return bytes(value).decode("utf-8")
    raise ValueError(f"cannot resolve writer type {wt!r} to reader type {rt!r}")


def resolve_record(writer_schema: dict, reader_schema: dict, record: dict) -> dict:
    """Avro schema resolution for one decoded record: reader fields are
    filled by name from the writer record, absent ones take the reader's
    ``default`` (required by the spec for added fields; None when the field
    is nullable and no default is given), and writer-only fields are dropped."""
    writer_fields = {f["name"]: f for f in writer_schema["fields"]}
    out = {}
    for f in reader_schema["fields"]:
        name = f["name"]
        if name in writer_fields:
            out[name] = _promote(
                record.get(name), writer_fields[name]["type"], f["type"]
            )
        elif "default" in f:
            out[name] = f["default"]
        elif isinstance(f["type"], list) and "null" in f["type"]:
            out[name] = None
        else:
            raise ValueError(
                f"reader field {name!r} has no default and is missing from "
                "the writer schema"
            )
    return out
