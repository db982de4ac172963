"""Schema registry tests: dialect → StructType conversion (the §1.3 type
matrix), produce-time batch validation, typed decode, broker integration."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from tansu_spark.broker import Broker
from tansu_spark.registry import SchemaRegistry, ValidationError
from tansu_spark.registry.types import avro_to_spark, parse_proto

SCHEMA_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "schemas")


@pytest.fixture(scope="module")
def registry():
    return SchemaRegistry(SCHEMA_DIR)


# ------------------------------------------------------------ type matrix


def test_avro_type_matrix():
    """SURVEY §1.3 Avro → Spark mapping (avro/arrow.rs:111-247)."""
    cases = [
        ("boolean", "BooleanType()"),
        ("int", IntegerType()),
        ("long", LongType()),
        ("float", FloatType()),
        ("double", DoubleType()),
        ("bytes", BinaryType()),
        ("string", StringType()),
        ({"type": "string", "logicalType": "uuid"}, StringType()),
        ({"type": "enum", "name": "E", "symbols": ["A"]}, StringType()),
        ({"type": "fixed", "name": "F", "size": 16}, BinaryType()),
        (
            {"type": "bytes", "logicalType": "decimal", "precision": 18, "scale": 2},
            DecimalType(18, 2),
        ),
        ({"type": "int", "logicalType": "date"}, DateType()),
        ({"type": "int", "logicalType": "time-millis"}, LongType()),
        ({"type": "long", "logicalType": "timestamp-micros"}, TimestampType()),
        ({"type": "long", "logicalType": "local-timestamp-micros"}, TimestampNTZType()),
        ({"type": "array", "items": "long"}, ArrayType(LongType())),
        ({"type": "map", "values": "double"}, MapType(StringType(), DoubleType())),
        (["null", "string"], StringType()),
    ]
    for avro, expected in cases:
        got = avro_to_spark(avro)
        if isinstance(expected, str):
            assert type(got).__name__ + "()" == expected, avro
        else:
            assert got == expected, avro


def test_avro_dense_union_divergence():
    """General unions have no Spark type → struct of nullable branches +
    tag (documented divergence, SURVEY §7b)."""
    got = avro_to_spark(["string", "long"])
    assert isinstance(got, StructType)
    assert got.fieldNames() == ["_tag", "u0", "u1"]


def test_proto_parser_nested_repeated_enum():
    msgs = parse_proto(open(os.path.join(SCHEMA_DIR, "customer.proto")).read())
    v = msgs["Value"]
    assert isinstance(v["home"].dataType, StructType)
    assert v["home"].dataType["city"].dataType == StringType()
    assert v["industry"].dataType == ArrayType(StringType())
    taxi = parse_proto(open(os.path.join(SCHEMA_DIR, "taxi.proto")).read())["Value"]
    assert taxi["vendor_id"].dataType == LongType()
    assert taxi["store_and_fwd"].dataType == IntegerType()  # enum → Int32


def test_registry_lookup_and_ttl(registry):
    assert registry.schema_for("person").dialect == "json"
    assert registry.schema_for("observation").dialect == "avro"
    assert registry.schema_for("taxi").dialect == "proto"
    assert registry.schema_for("nonexistent") is None
    assert registry.schema_for("person") is registry.schema_for("person")  # cached


# ------------------------------------------------------------- validation


def _person_rows(spark, key="123-45-6789", age=30):
    return spark.createDataFrame(
        [(key.encode(), f'{{"firstName":"a","lastName":"b","age":{age}}}'.encode())],
        "key binary, value binary",
    )


def test_validate_person_ok(spark, registry):
    registry.validate("person", _person_rows(spark))


def test_validate_person_bad_key_pattern(spark, registry):
    with pytest.raises(ValidationError, match="batch rejected"):
        registry.validate("person", _person_rows(spark, key="not-an-ssn"))


def test_validate_person_negative_age(spark, registry):
    with pytest.raises(ValidationError):
        registry.validate("person", _person_rows(spark, age=-1))


def test_validate_unparseable_value(spark, registry):
    bad = spark.createDataFrame(
        [(b"123-45-6789", b"this is not json")], "key binary, value binary"
    )
    with pytest.raises(ValidationError):
        registry.validate("person", bad)


def test_validate_no_schema_topic_passes(spark, registry):
    registry.validate("unschema'd", _person_rows(spark, key="anything"))


# ----------------------------------------------------------------- decode


def test_decode_typed_columns(spark, registry):
    df = _person_rows(spark)
    out = registry.decode("person", df)
    row = out.first()
    assert row.key == "123-45-6789"
    assert row.value.firstName == "a" and row.value.age == 30
    assert out.schema["value"].dataType["age"].dataType == LongType()


# ----------------------------------------------------- broker integration


def test_broker_produce_validates_and_decodes(spark, tmp_path, registry):
    b = Broker(spark, str(tmp_path / "store"), registry=registry)
    b.create_topic("person", partitions=1)
    b.produce_rows(
        "person",
        [{"key": "123-45-6789", "value": '{"firstName":"x","lastName":"y","age":4}'}],
    )
    with pytest.raises(ValidationError):
        b.produce_rows("person", [{"key": "nope", "value": '{"firstName":"x","lastName":"y"}'}])
    from tests.broker_util import assert_reject_leaves_no_trace

    good = {"key": "123-45-6789", "value": '{"firstName":"x","lastName":"y","age":5}'}
    bad = {"key": "nope", "value": '{"firstName":"x","lastName":"y"}'}
    assert_reject_leaves_no_trace(b, "person", [good, bad], [good], ValidationError)
    # bypass switch (tansu.schema.validation=false)
    b.create_topic("person2", partitions=1, config={"tansu.schema.validation": "false"})
    os.link(
        os.path.join(SCHEMA_DIR, "person.json"),
        os.path.join(SCHEMA_DIR, "person2.json"),
    )
    try:
        b.produce_rows("person2", [{"key": "nope", "value": "{}"}])
    finally:
        os.unlink(os.path.join(SCHEMA_DIR, "person2.json"))
    # typed view carries decoded struct + meta
    typed = b.typed_records("person").first()
    assert typed.value.firstName == "x"
    assert typed.meta.partition == 0 and typed.meta.year >= 2024


def test_valid_column_built_once_per_schema_version(spark, tmp_path, monkeypatch):
    """Produces reuse the built validity column; a changed schema file
    (TTL expired) builds it again, and the rebuilt column still rejects."""
    import json
    import shutil

    from tests.broker_util import assert_reject_leaves_no_trace

    schemas = tmp_path / "schemas"
    schemas.mkdir()
    shutil.copy(os.path.join(SCHEMA_DIR, "person.json"), schemas / "person.json")
    reg = SchemaRegistry(str(schemas), ttl_seconds=0.0)
    builds = []
    build = SchemaRegistry._build_valid

    def counting(self, *args):
        builds.append(args[0].fingerprint())
        return build(self, *args)

    monkeypatch.setattr(SchemaRegistry, "_build_valid", counting)
    b = Broker(spark, str(tmp_path / "store"), registry=reg)
    b.create_topic("person", partitions=1)
    good = {"key": "123-45-6789", "value": '{"firstName":"x","lastName":"y","age":4}'}
    b.produce_rows("person", [good])
    b.produce_rows("person", [good])
    assert len(builds) == 1

    schema = json.loads((schemas / "person.json").read_text())
    schema["properties"]["value"]["properties"]["age"]["maximum"] = 150
    (schemas / "person.json").write_text(json.dumps(schema))
    old = {"key": "123-45-6789", "value": '{"firstName":"x","lastName":"y","age":200}'}
    assert_reject_leaves_no_trace(b, "person", [old], [good], ValidationError)
    assert len(builds) == 2 and builds[0] != builds[1]
