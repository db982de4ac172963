"""Protobuf BINARY wire codec tests (proto.rs:168-195 parity, no protobuf
package): proto3 wire-format round-trips, spec vectors, proto3 default
semantics, and broker produce→typed_records with tansu.schema.wire=proto."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tansu_spark.registry.proto_wire import ProtoCodec
from tansu_spark.registry.types import parse_proto_meta

PROTO = """
syntax = "proto3";
enum Grade { NONE = 0; GOOD = 1; GREAT = 2; }
message Address { string city = 1; int32 zip = 2; }
message Value {
  string name = 1;
  int64 n = 2;
  sint64 sn = 3;
  double score = 4;
  bool ok = 5;
  repeated int64 xs = 6;
  repeated string tags = 7;
  Address home = 8;
  map<string, int64> counts = 9;
  Grade grade = 10;
  google.protobuf.Timestamp at = 11;
}
"""


@pytest.fixture(scope="module")
def codec():
    msgs, enums = parse_proto_meta(PROTO)
    return ProtoCodec(msgs, enums)


def test_spec_vectors(codec):
    """protobuf.dev encoding doc vectors: `int32 a = 1` with a=150 →
    08 96 01; `string b = 2` with "testing" → 12 07 74...67."""
    msgs, enums = parse_proto_meta(
        "message T1 { int32 a = 1; }\nmessage T2 { string b = 2; }"
    )
    c = ProtoCodec(msgs, enums)
    assert c.encode("T1", {"a": 150}) == b"\x08\x96\x01"
    assert c.decode("T1", b"\x08\x96\x01") == {"a": 150}
    assert c.encode("T2", {"b": "testing"}) == b"\x12\x07testing"
    assert c.decode("T2", b"\x12\x07testing") == {"b": "testing"}


def test_packed_repeated_spec_vector():
    """`repeated int32 f = 4` with [3,270,86942] → 22 06 03 8e 02 9e a7 05."""
    msgs, enums = parse_proto_meta("message T { repeated int32 f = 4; }")
    c = ProtoCodec(msgs, enums)
    raw = bytes.fromhex("2206038e029ea705")
    assert c.encode("T", {"f": [3, 270, 86942]}) == raw
    assert c.decode("T", raw) == {"f": [3, 270, 86942]}
    # unpacked encoding of the same field must also decode
    unpacked = bytes.fromhex("2003" "208e02" "209ea705")
    assert c.decode("T", unpacked) == {"f": [3, 270, 86942]}


def test_negative_int64_ten_byte_varint(codec):
    v = {"n": -2}
    raw = codec.encode("Value", v)
    assert len(raw) == 1 + 10  # tag + 10-byte two's-complement varint
    assert codec.decode("Value", raw)["n"] == -2
    # sint64 zigzags instead: 2 bytes total
    raw = codec.encode("Value", {"sn": -2})
    assert len(raw) == 2
    assert codec.decode("Value", raw)["sn"] == -2


def test_full_roundtrip_with_defaults(codec):
    v = {
        "name": "ada",
        "n": 99,
        "sn": -123456789,
        "score": 2.5,
        "ok": True,
        "xs": [1, -2, 3],
        "tags": ["x", "y"],
        "home": {"city": "paris", "zip": 75001},
        "counts": {"a": 1, "b": -2},
        "grade": 2,
        "at": datetime.datetime(2026, 8, 14, 3, 4, 5, 678901),
    }
    out = codec.decode("Value", codec.encode("Value", v))
    assert out == v

    # absent fields land as proto3 defaults
    empty = codec.decode("Value", b"")
    assert empty == {
        "name": "", "n": 0, "sn": 0, "score": 0.0, "ok": False,
        "xs": [], "tags": [], "home": None, "counts": {}, "grade": 0,
        "at": None,
    }


def test_unknown_fields_skipped(codec):
    """Forward compat: a payload with an unknown field number decodes,
    ignoring it — proto3 wire contract."""
    known = codec.encode("Value", {"name": "z"})
    unknown = b"\xf8\x7f\x05"  # field 2047, varint 5
    out = codec.decode("Value", known + unknown)
    assert out["name"] == "z"


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.text(max_size=24),
    st.lists(st.integers(min_value=-(10**9), max_value=10**9), max_size=6),
    st.booleans(),
)
def test_property_roundtrip(codec, n, sn, name, xs, ok):
    v = {"n": n, "sn": sn, "name": name, "xs": xs, "ok": ok}
    out = codec.decode("Value", codec.encode("Value", v))
    for k, x in v.items():
        assert out[k] == x, k


def test_truncated_raises(codec):
    raw = codec.encode("Value", {"name": "hello-world"})
    with pytest.raises(ValueError):
        codec.decode("Value", raw[:-3])


# ------------------------------------------------------- broker integration


def test_broker_proto_wire_roundtrip(spark, tmp_path):
    """produce proto BINARY → typed_records yields typed columns, the
    proto twin of the avro wire path (X4 parity without spark-protobuf)."""
    from tansu_spark.broker import Broker
    from tansu_spark.registry import SchemaRegistry, ValidationError

    schema_dir = tmp_path / "schemas"
    schema_dir.mkdir()
    (schema_dir / "cust.proto").write_text(
        """
        syntax = "proto3";
        message Key { string id = 1; }
        message Value {
          string full_name = 1;
          int64 visits = 2;
          repeated string industry = 3;
          map<string, int64> scores = 4;
        }
        """
    )
    reg = SchemaRegistry(str(schema_dir))
    broker = Broker(spark, str(tmp_path / "store"), registry=reg)
    broker.create_topic("cust", partitions=1, config={"tansu.schema.wire": "proto"})

    msgs, enums = parse_proto_meta((schema_dir / "cust.proto").read_text())
    c = ProtoCodec(msgs, enums)
    rows = [
        {
            "key": c.encode("Key", {"id": f"c{i}"}),
            "value": c.encode(
                "Value",
                {
                    "full_name": f"name{i}",
                    "visits": i * 10,
                    "industry": [f"ind{i}", "all"],
                    "scores": {"s": i},
                },
            ),
        }
        for i in range(4)
    ]
    broker.produce_rows("cust", rows)

    typed = broker.typed_records("cust")
    assert typed.schema["value"].dataType.simpleString() == (
        "struct<full_name:string,visits:bigint,industry:array<string>,"
        "scores:map<string,bigint>>"
    )
    got = sorted(typed.collect(), key=lambda r: r["offset"])
    assert got[2]["key"]["id"] == "c2"
    assert got[2]["value"]["full_name"] == "name2"
    assert got[2]["value"]["visits"] == 20
    assert got[2]["value"]["industry"] == ["ind2", "all"]
    assert got[2]["value"]["scores"] == {"s": 2}
    # proto3 default: visits=0 row encoded without the field
    assert got[0]["value"]["visits"] == 0

    # reject-whole-batch on garbage
    with pytest.raises(ValidationError):
        broker.produce_rows(
            "cust", [{"key": rows[0]["key"], "value": b"\xff\xff\xff\xff"}]
        )

    from tests.broker_util import assert_reject_leaves_no_trace

    garbage = rows[:1] + [{"key": rows[0]["key"], "value": b"\xff\xff\xff\xff"}]
    assert_reject_leaves_no_trace(broker, "cust", garbage, rows[:1], ValidationError)


def test_broker_proto_enum_and_int_key(spark, tmp_path):
    """search.proto-shaped surface (etc/schema/search.proto: enum-typed
    field; people.proto: message Key with int32): enum values travel as
    varints and decode to Int32 columns (proto/arrow.rs:152 enum→Int32),
    int32 keys decode typed."""
    from tansu_spark.broker import Broker
    from tansu_spark.registry import SchemaRegistry

    schema_dir = tmp_path / "schemas"
    schema_dir.mkdir()
    (schema_dir / "lookup.proto").write_text(
        """
        syntax = "proto3";
        enum Channel {
          CHANNEL_UNSPECIFIED = 0;
          CHANNEL_WEB = 1;
          CHANNEL_NEWS = 2;
          CHANNEL_VIDEO = 3;
        }
        message Key { int32 id = 1; }
        message Value {
          string query = 1;
          int32 page_number = 2;
          Channel channel = 3;
        }
        """
    )
    reg = SchemaRegistry(str(schema_dir))
    broker = Broker(spark, str(tmp_path / "store"), registry=reg)
    broker.create_topic("lookup", partitions=1, config={"tansu.schema.wire": "proto"})

    msgs, enums = parse_proto_meta((schema_dir / "lookup.proto").read_text())
    assert enums == {
        "Channel": {
            "CHANNEL_UNSPECIFIED": 0,
            "CHANNEL_WEB": 1,
            "CHANNEL_NEWS": 2,
            "CHANNEL_VIDEO": 3,
        }
    }
    c = ProtoCodec(msgs, enums)
    broker.produce_rows(
        "lookup",
        [
            {
                "key": c.encode("Key", {"id": i}),
                "value": c.encode(
                    "Value", {"query": f"q{i}", "page_number": i, "channel": i % 4}
                ),
            }
            for i in range(5)
        ],
    )
    typed = broker.typed_records("lookup")
    assert typed.schema["key"].dataType.simpleString() == "struct<id:int>"
    assert (
        typed.schema["value"].dataType.simpleString()
        == "struct<query:string,page_number:int,channel:int>"
    )
    rows = sorted(typed.collect(), key=lambda r: r["offset"])
    assert [r["key"]["id"] for r in rows] == [0, 1, 2, 3, 4]
    assert [r["value"]["channel"] for r in rows] == [0, 1, 2, 3, 0]
    assert rows[0]["value"]["page_number"] == 0  # proto3 zero default


def test_negative_enum_symbol_roundtrip():
    """Legal negative proto enum values (e.g. `UNKNOWN = -1;`) must land
    in the symbol table so symbolic encode works, and the value must
    round-trip through the 64-bit two's-complement varint path (the same
    encoding protoc emits for negative enum/int32 values)."""
    msgs, enums = parse_proto_meta(
        "enum Status { UNKNOWN = -1; OK = 0; BAD = 1; }\n"
        "message T { Status s = 1; int32 n = 2; }"
    )
    assert enums["Status"] == {"UNKNOWN": -1, "OK": 0, "BAD": 1}
    c = ProtoCodec(msgs, enums)
    # symbolic encode of the negative symbol, numeric decode
    raw = c.encode("T", {"s": "UNKNOWN", "n": -1})
    assert len(raw) > 11  # two 10-byte varints + tags: not truncated
    out = c.decode("T", raw)
    assert out["s"] == -1 and out["n"] == -1
    # numeric encode agrees with symbolic encode byte-for-byte
    assert c.encode("T", {"s": -1, "n": -1}) == raw
