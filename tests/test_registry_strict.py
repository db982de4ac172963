"""Strict JSON Schema validation goldens (round-5 verdict ask #2).

The reference validates every produced batch with the full `jsonschema`
crate (nisshi-schema/src/json.rs:59-81; validate cases json.rs:123-132) —
a record violating ANY constraint keyword rejects the whole batch. The
repo's JVM-compiled predicate must therefore either express the keyword
or route the topic through the full-vocabulary Python fallback; a schema
may never silently validate as always-true.

One parametrized case per newly-compiled keyword: a passing batch and a
rejected batch, mirroring the reference's accept/reject golden pairs.
"""

from __future__ import annotations

import json

import pytest

from tansu_spark.registry import (
    SchemaRegistry,
    UnsupportedSchemaError,
    ValidationError,
)
from tansu_spark.registry import registry as registry_mod
from tansu_spark.registry.types import COMPILED_KEYWORDS, unsupported_keywords


def _registry(tmp_path, part: dict) -> SchemaRegistry:
    """Write a value-only JSON schema for topic `t` and open a registry."""
    schema = {"type": "object", "properties": {"value": part}}
    (tmp_path / "t.json").write_text(json.dumps(schema))
    return SchemaRegistry(str(tmp_path))


def _batch(spark, value: dict):
    return spark.createDataFrame(
        [(None, json.dumps(value).encode())], "key binary, value binary"
    )


def _obj(field: str, sub: dict) -> dict:
    return {"type": "object", "required": [field], "properties": {field: sub}}


# (keyword, value-part schema, passing instance, rejected instance) — the
# shape of the reference's validate goldens (json.rs:123-132), one pair
# per keyword added to the compiled subset this round.
KEYWORD_CASES = [
    ("minLength", _obj("name", {"type": "string", "minLength": 3}),
     {"name": "abc"}, {"name": "ab"}),
    ("maxLength", _obj("name", {"type": "string", "maxLength": 3}),
     {"name": "abc"}, {"name": "abcd"}),
    ("exclusiveMinimum", _obj("age", {"type": "integer", "exclusiveMinimum": 0}),
     {"age": 1}, {"age": 0}),
    ("exclusiveMaximum", _obj("age", {"type": "integer", "exclusiveMaximum": 10}),
     {"age": 9}, {"age": 10}),
    ("multipleOf", _obj("qty", {"type": "integer", "multipleOf": 5}),
     {"qty": 10}, {"qty": 7}),
    ("const", _obj("kind", {"type": "string", "const": "order"}),
     {"kind": "order"}, {"kind": "refund"}),
    ("items", _obj("tags", {"type": "array",
                            "items": {"type": "integer", "minimum": 0}}),
     {"tags": [1, 2]}, {"tags": [1, -2]}),
    ("uniqueItems", _obj("tags", {"type": "array", "uniqueItems": True,
                                  "items": {"type": "integer"}}),
     {"tags": [1, 2]}, {"tags": [1, 1]}),
    ("minItems", _obj("tags", {"type": "array", "minItems": 2,
                               "items": {"type": "integer"}}),
     {"tags": [1, 2]}, {"tags": [1]}),
    ("maxItems", _obj("tags", {"type": "array", "maxItems": 2,
                               "items": {"type": "integer"}}),
     {"tags": [1, 2]}, {"tags": [1, 2, 3]}),
]


@pytest.mark.parametrize(
    "keyword,part,good,bad", KEYWORD_CASES, ids=[c[0] for c in KEYWORD_CASES]
)
def test_compiled_keyword_accepts_and_rejects(spark, tmp_path, keyword, part, good, bad):
    reg = _registry(tmp_path, part)
    # the keyword is genuinely in the compiled subset — no fallback
    assert keyword in COMPILED_KEYWORDS
    assert reg.schema_for("t").full_validator_keywords == []
    reg.validate("t", _batch(spark, good))
    with pytest.raises(ValidationError, match="batch rejected"):
        reg.validate("t", _batch(spark, bad))


# ------------------------------------------- beyond the compiled subset


def test_unsupported_keyword_walker():
    part = {
        "type": "object",
        "properties": {
            "a": {"oneOf": [{"type": "integer"}, {"type": "string"}]},
            "b": {"type": "array", "items": {"not": {"type": "null"}}},
            "c": {"type": "string", "minLength": 1},  # compiled: not flagged
        },
    }
    assert unsupported_keywords(part) == {"oneOf", "not"}


def test_uncompiled_keyword_falls_back_to_full_validator(spark, tmp_path):
    """`oneOf` is outside the compiled subset → the topic routes through
    the Python `jsonschema` kernel and still enforces the constraint
    (reference behavior: json.rs:59-81 rejects, never ignores)."""
    part = _obj("id", {"oneOf": [{"type": "integer"},
                                 {"type": "string", "minLength": 5}]})
    reg = _registry(tmp_path, part)
    assert reg.schema_for("t").full_validator_keywords == ["oneOf"]
    reg.validate("t", _batch(spark, {"id": 7}))
    reg.validate("t", _batch(spark, {"id": "abcde"}))
    with pytest.raises(ValidationError, match="batch rejected"):
        reg.validate("t", _batch(spark, {"id": "ab"}))  # matches neither arm

    # the broker's produce counts the same fallback validity in its write
    from tansu_spark.broker import Broker
    from tests.broker_util import assert_reject_leaves_no_trace

    broker = Broker(spark, str(tmp_path / "store"), registry=reg)
    broker.create_topic("t", partitions=1)
    good, bad = ({"value": json.dumps({"id": v})} for v in (7, "ab"))
    with pytest.raises(ValidationError, match="batch rejected: 1 record"):
        broker.produce_rows("t", [good, bad])
    assert_reject_leaves_no_trace(broker, "t", [good, bad], [good], ValidationError)


def test_unparseable_json_rejected_on_fallback_path(spark, tmp_path):
    part = _obj("id", {"oneOf": [{"type": "integer"}]})
    reg = _registry(tmp_path, part)
    bad = spark.createDataFrame(
        [(None, b"this is not json")], "key binary, value binary"
    )
    with pytest.raises(ValidationError):
        reg.validate("t", bad)


def test_registration_fails_loudly_without_jsonschema(tmp_path, monkeypatch):
    """No fallback available → refuse registration instead of silently
    accepting what the reference rejects."""
    monkeypatch.setattr(registry_mod, "_has_jsonschema", lambda: False)
    part = _obj("id", {"oneOf": [{"type": "integer"}]})
    reg = _registry(tmp_path, part)
    with pytest.raises(UnsupportedSchemaError, match="oneOf"):
        reg.schema_for("t")


def test_additional_properties_false_compiles_and_rejects(spark, tmp_path):
    """from_json silently DROPS unknown properties, but the raw bytes still
    carry them and the reference's full validator rejects the record when
    `additionalProperties: false` — so the compiled path audits the
    instance's object keys against the declared properties set (r6 advice),
    at any depth including inside array elements (variant recursion). Only
    the schema-valued form — values the compiler can't enumerate — routes
    to the fallback."""
    assert unsupported_keywords({"type": "object", "additionalProperties": False}) == set()
    assert unsupported_keywords(
        {"type": "object", "additionalProperties": {"type": "integer"}}
    ) == {"additionalProperties"}
    # the boolean form compiles at any depth (variant recursion) — only
    # the schema-valued form needs the full validator
    assert unsupported_keywords(
        {"type": "array",
         "items": {"type": "object", "additionalProperties": False}}
    ) == set()

    part = {
        "type": "object",
        "additionalProperties": False,
        "properties": {"a": {"type": "integer"},
                       "home": {"type": "object",
                                "additionalProperties": False,
                                "properties": {"city": {"type": "string"}}}},
    }
    reg = _registry(tmp_path, part)
    assert reg.schema_for("t").full_validator_keywords == []
    reg.validate("t", _batch(spark, {"a": 1, "home": {"city": "x"}}))
    with pytest.raises(ValidationError, match="batch rejected"):
        reg.validate("t", _batch(spark, {"a": 1, "extra": 2}))
    with pytest.raises(ValidationError, match="batch rejected"):
        reg.validate("t", _batch(spark, {"home": {"city": "x", "zip": 1}}))


# --------------------------------------------- type strictness (r5 late)

TYPE_CASES = [
    ("mistyped-optional-int", _obj("age", {"type": "integer"}),
     {"age": 3}, {"other": 1, "age": "three"}),
    ("number-coerced-into-string", {"type": "object", "properties":
        {"name": {"type": "string"}}},
     {"name": "abc"}, {"name": 5}),
    ("explicit-null-for-typed", {"type": "object", "properties":
        {"age": {"type": "integer"}}},
     {}, {"age": None}),
    ("bool-is-not-integer", {"type": "object", "properties":
        {"n": {"type": "integer"}}},
     {"n": 1}, {"n": True}),
    ("scalar-where-object", {"type": "object", "properties":
        {"home": {"type": "object", "properties": {"city": {"type": "string"}}}}},
     {"home": {"city": "x"}}, {"home": 7}),
    ("nested-mistype", {"type": "object", "properties":
        {"home": {"type": "object", "properties": {"zip": {"type": "integer"}}}}},
     {"home": {"zip": 10}}, {"home": {"zip": "abc"}}),
    ("scalar-where-array", _obj("tags", {"type": "array",
                                         "items": {"type": "integer"}}),
     {"tags": [1]}, {"tags": "not-an-array"}),
]


@pytest.mark.parametrize(
    "label,part,good,bad", TYPE_CASES, ids=[c[0] for c in TYPE_CASES]
)
def test_type_strictness_accepts_and_rejects(spark, tmp_path, label, part, good, bad):
    """PERMISSIVE from_json disguises mistyped/null fields as absent
    (and coerces anything into string fields); the variant-based
    strictness conjunct must reject them like the reference's full
    validator (json.rs:59-81). One golden pair per disguise."""
    reg = _registry(tmp_path, part)
    reg.validate("t", _batch(spark, good))
    with pytest.raises(ValidationError, match="batch rejected"):
        reg.validate("t", _batch(spark, bad))


def test_nullable_union_compiles_natively(spark, tmp_path):
    """`["null", T]` — by far the most common union idiom — now compiles
    (r6 verdict ask #6): absent | explicit null | T all validate JVM-side;
    a mistyped value still rejects. Required-ness of a nullable field is
    KEY presence (an explicit null satisfies it), which only the variant
    can see."""
    part = {
        "type": "object",
        "required": ["x"],
        "properties": {"x": {"type": ["null", "integer"], "minimum": 0}},
    }
    assert unsupported_keywords(part) == set()
    reg = _registry(tmp_path, part)
    assert reg.schema_for("t").full_validator_keywords == []
    reg.validate("t", _batch(spark, {"x": None}))   # null arm
    reg.validate("t", _batch(spark, {"x": 3}))      # typed arm
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"x": "nope"}))  # neither arm
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"x": -1}))  # constraint on T arm
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {}))         # required: key absent


def test_multi_type_union_and_tuple_items_route_to_full_validator(spark, tmp_path):
    """A GENUINE multi-type union (["integer","string"]) or tuple-form
    `items` would silently compile to always-true — both must route
    through the full validator (the same never-silently-permissive rule
    as unknown keywords)."""
    part = {
        "type": "object",
        "properties": {"x": {"type": ["integer", "string"]}},
    }
    assert unsupported_keywords(part) == {"type(union)"}
    reg = _registry(tmp_path, part)
    assert reg.schema_for("t").full_validator_keywords == ["type(union)"]
    reg.validate("t", _batch(spark, {"x": 3}))
    reg.validate("t", _batch(spark, {"x": "ok"}))
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"x": True}))

    assert unsupported_keywords(
        {"type": "array", "items": [{"type": "integer"}, {"type": "string"}]}
    ) == {"items(non-object)"}


def test_integer_valued_floats_accepted(spark, tmp_path):
    """JSON Schema's numeric model is mathematical: 1.0 and 1e3 are valid
    `integer`s (r6 advice — the reference's jsonschema crate admits them;
    rejecting failed whole batches the reference accepts). Constraints
    evaluate through the shadow-double parse, so they still apply."""
    part = _obj("n", {"type": "integer", "minimum": 5})
    reg = _registry(tmp_path, part)
    reg.validate("t", _batch(spark, {"n": 5}))
    reg.validate("t", _batch(spark, {"n": 6.0}))     # integral float
    reg.validate("t", _batch(spark, {"n": 1e3}))     # exponent form
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"n": 6.5})) # fractional part
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"n": 4.0})) # constraint via shadow


def test_array_element_types_enforced(spark, tmp_path):
    """PERMISSIVE parsing nulls a mistyped array element, disguising it
    from element constraints; the variant element-type check rejects it
    like the reference's validator."""
    part = _obj("tags", {"type": "array", "items": {"type": "integer"}})
    reg = _registry(tmp_path, part)
    reg.validate("t", _batch(spark, {"tags": [1, 2.0]}))
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"tags": [1, "y"]}))
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"tags": [1, None]}))
    with pytest.raises(ValidationError):
        reg.validate("t", _batch(spark, {"tags": [1, 2.5]}))


def test_scalar_part_uniform_instance_convention(spark, tmp_path):
    """Scalar (non-object) parts share the fallback kernel's convention:
    parseable bytes are the typed JSON instance, unparseable bytes are a
    bare string instance. So a JSON number no longer validates against a
    string schema, and a QUOTED string pattern-checks unquoted — both
    previously diverged between the two paths (r6 advice)."""
    schema = {"type": "object", "properties":
              {"key": {"type": "string", "pattern": r"^\d{3}-\d{2}-\d{4}$"},
               "value": {"type": "object", "properties": {}}}}
    (tmp_path / "t.json").write_text(json.dumps(schema))
    reg = SchemaRegistry(str(tmp_path))

    def kbatch(key_bytes: bytes):
        return spark.createDataFrame([(key_bytes, b"{}")], "key binary, value binary")

    reg.validate("t", kbatch(b"123-45-6789"))      # raw utf-8 front door
    reg.validate("t", kbatch(b'"123-45-6789"'))    # reference-shaped JSON
    with pytest.raises(ValidationError):
        reg.validate("t", kbatch(b"123"))           # JSON number, not string
    with pytest.raises(ValidationError):
        reg.validate("t", kbatch(b'"nope"'))        # pattern fails unquoted


def test_array_element_objects_validate_recursively(spark, tmp_path):
    """Structure inside array ELEMENTS is enforced by the same variant
    recursion as top-level fields (r6): element property types, element
    required-ness (incl. the nullable-union KEY-presence rule), and
    additionalProperties:false all reject per element — none of which a
    parsed-struct path can see."""
    part = _obj("xs", {
        "type": "array",
        "items": {
            "type": "object",
            "additionalProperties": False,
            "required": ["zip", "note"],
            "properties": {"zip": {"type": "integer"},
                           "note": {"type": ["null", "string"]}},
        },
    })
    reg = _registry(tmp_path, part)
    assert reg.schema_for("t").full_validator_keywords == []
    reg.validate("t", _batch(spark, {"xs": [{"zip": 10, "note": "a"},
                                            {"zip": 2.0, "note": None}]}))
    with pytest.raises(ValidationError):  # mistyped element property
        reg.validate("t", _batch(spark, {"xs": [{"zip": "abc", "note": "a"}]}))
    with pytest.raises(ValidationError):  # extra key inside an element
        reg.validate("t", _batch(spark, {"xs": [{"zip": 1, "note": "a", "x": 1}]}))
    with pytest.raises(ValidationError):  # required union key absent
        reg.validate("t", _batch(spark, {"xs": [{"zip": 1}]}))
    with pytest.raises(ValidationError):  # explicit null for plain type
        reg.validate("t", _batch(spark, {"xs": [{"zip": None, "note": "a"}]}))
