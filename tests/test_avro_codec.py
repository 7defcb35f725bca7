"""Known-answer + round-trip tests for the pure-Python Avro datum codec
(Apache Avro spec conformance without the jar)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import struct

from insight_de_smart_grid_spark.sources.avro_codec import (
    decode_record,
    encode_record,
    parse_flat_record_schema,
)

LONG_F = [("x", "long")]


def test_zigzag_known_vectors():
    """Spec examples: 0->00, -1->01, 1->02, -2->03, 2->04; multi-byte
    varint for 64 -> 0x80 0x01."""
    cases = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
             64: b"\x80\x01", -64: b"\x7f"}
    for v, raw in cases.items():
        assert encode_record({"x": v}, LONG_F) == raw, v
        assert decode_record(raw, LONG_F) == (v,)


def test_string_and_float_layout():
    fields = [("s", "string"), ("p", "float")]
    raw = encode_record({"s": "foo", "p": 4.15}, fields)
    assert raw[:4] == b"\x06foo"          # len 3 zigzag=06 + utf8
    assert raw[4:] == struct.pack("<f", 4.15)  # little-endian IEEE754
    s, p = decode_record(raw, fields)
    assert s == "foo" and abs(p - 4.15) < 1e-6


def test_round_trip_edge_values():
    fields = [("name", "string"), ("n", "long"), ("d", "double"),
              ("ok", "boolean"), ("blob", "bytes")]
    for rec in (
        {"name": "", "n": 0, "d": 0.0, "ok": False, "blob": b""},
        {"name": "smørgåsbord ☃", "n": -(2 ** 62), "d": -1e300,
         "ok": True, "blob": bytes(range(12))},
        {"name": "x" * 500, "n": 2 ** 62, "d": 3.14159, "ok": True,
         "blob": b"\x00\xff"},
    ):
        raw = encode_record(rec, fields)
        got = decode_record(raw, fields)
        assert got == (rec["name"], rec["n"], rec["d"], rec["ok"],
                       rec["blob"])


def test_truncated_and_trailing_input_fail_loud():
    import pytest

    fields = [("s", "string"), ("n", "long")]
    raw = encode_record({"s": "hello", "n": 42}, fields)
    with pytest.raises(ValueError):
        decode_record(raw[:-1], fields)          # truncated varint/body
    with pytest.raises(ValueError):
        decode_record(raw + b"\x00", fields)     # trailing garbage
    with pytest.raises(ValueError):
        # length prefix claims more bytes than exist
        decode_record(b"\x20hi", [("s", "string")])


# The reference's five-field power-reading record
# (stream_processing/schema.avsc; field types in SURVEY.md §1.2).
REFERENCE_SCHEMA = """{
  "type": "record",
  "name": "reading",
  "fields": [
    {"name": "house_id", "type": "string"},
    {"name": "appliance_name", "type": "string"},
    {"name": "appliance_id", "type": "string"},
    {"name": "timestamp", "type": "long"},
    {"name": "power", "type": "float"}
  ]
}"""


def test_reference_schema_parses():
    fields = parse_flat_record_schema(REFERENCE_SCHEMA)
    assert [n for n, _ in fields] == [
        "house_id", "appliance_name", "appliance_id", "timestamp", "power"]
    assert dict(fields)["power"] == "float"


# ---------------------------------------------------------------------------
# Property-based conformance (hypothesis): encode∘decode == identity over
# the full value domains
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_FIELDS = [("name", "string"), ("n", "long"), ("d", "double"),
           ("ok", "boolean"), ("blob", "bytes")]

_records = st.fixed_dictionaries({
    "name": st.text(max_size=200),
    "n": st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    "d": st.floats(allow_nan=False),
    "ok": st.booleans(),
    "blob": st.binary(max_size=100),
})


@settings(max_examples=300, deadline=None)
@given(_records)
def test_round_trip_property(rec):
    raw = encode_record(rec, _FIELDS)
    assert decode_record(raw, _FIELDS) == (
        rec["name"], rec["n"], rec["d"], rec["ok"], rec["blob"])


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1))
def test_zigzag_property(n):
    assert decode_record(encode_record({"x": n}, LONG_F), LONG_F) == (n,)


@settings(max_examples=200, deadline=None)
@given(st.lists(_records, min_size=2, max_size=5))
def test_concatenated_records_decode_in_order(recs):
    """Datum framing: records decoded sequentially from a concatenated
    stream recover in order (what a Kafka batch consumer does)."""
    blob = b"".join(encode_record(r, _FIELDS) for r in recs)
    pos = 0
    for r in recs:
        raw = encode_record(r, _FIELDS)
        assert blob[pos:pos + len(raw)] == raw
        pos += len(raw)
    assert pos == len(blob)
