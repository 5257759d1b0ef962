"""Property-based tests (hypothesis) for the Avro wire codec.

The reference's only unit test is a single fixed-record Avro round-trip
(BaseProducerTest.java:17-52).  These generalize it: for arbitrary values of
every supported type (decimals included), decode(encode(x)) == x, and
varint/zigzag primitives hold their algebraic properties.  No Spark session
needed — pure codec."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from hiveka_spark.sources.avro_codec import (
    _zigzag_decode,
    _zigzag_encode,
    decode_record,
    encode_record,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(I64)
def test_zigzag_roundtrip(n):
    assert _zigzag_decode(_zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF) == n


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_zigzag_encode_nonnegative(n):
    # zigzag output must be an unsigned varint payload
    assert (_zigzag_encode(_zigzag_decode(n)) & 0xFFFFFFFFFFFFFFFF) == n


SCHEMA = {
    "type": "record",
    "name": "prop",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "d", "type": "double"},
        {"name": "f", "type": "float"},
        {"name": "b", "type": "boolean"},
        {"name": "by", "type": "bytes"},
        {"name": "opt", "type": ["null", "long"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {
            "name": "amt",
            "type": [
                "null",
                {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2},
            ],
        },
        {
            "name": "wide",
            "type": {"type": "bytes", "logicalType": "decimal", "precision": 38, "scale": 10},
        },
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "x", "type": "long"}],
            },
        },
    ],
}

record_st = st.fixed_dictionaries(
    {
        "i": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "l": I64,
        "s": st.text(max_size=200),
        "d": st.floats(allow_nan=False),
        "f": st.floats(allow_nan=False, width=32),
        "b": st.booleans(),
        "by": st.binary(max_size=100),
        "opt": st.none() | I64,
        "arr": st.lists(I64, max_size=20),
        "m": st.dictionaries(st.text(max_size=20), st.text(max_size=20), max_size=10),
        "amt": st.none() | st.decimals(
            min_value=-(10**8) + 1, max_value=10**8 - 1, places=2,
            allow_nan=False, allow_infinity=False,
        ),
        "wide": st.decimals(
            min_value=-(10**28) + 1, max_value=10**28 - 1, places=10,
            allow_nan=False, allow_infinity=False,
        ),
        "nested": st.fixed_dictionaries({"x": I64}),
    }
)


@settings(max_examples=200, deadline=None)
@given(record_st)
def test_record_roundtrip(rec):
    out = decode_record(SCHEMA, encode_record(SCHEMA, rec))
    assert out == rec


@settings(max_examples=50, deadline=None)
@given(st.floats(allow_nan=True))
def test_double_roundtrip_including_nan(x):
    schema = {"type": "record", "name": "r", "fields": [{"name": "d", "type": "double"}]}
    out = decode_record(schema, encode_record(schema, {"d": x}))["d"]
    assert (math.isnan(x) and math.isnan(out)) or out == x
