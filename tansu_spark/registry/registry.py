"""Schema registry: topic → (key, value) schemas with produce-time
validation and typed decode.

Mirrors the reference's embedded registry (nisshi-schema/src/lib.rs:353-600):
an object store of `{topic}.avsc/.json/.proto` files, TTL-cached
(lib.rs:491-569), validating every produced batch (lib.rs:571-599 — any
invalid record rejects the whole batch) and converting batches to typed
columnar data for the lake (AsArrow, lib.rs:237-245).

Spark-first shape: values travel as JSON bytes by default (the reference's
own CLI produce path takes JSON and encodes per schema —
nisshi-cat/src/produce.rs); decode = from_json into the schema-derived
StructType; validation = one per-row validity column (`valid_column`)
for every dialect: a compiled JVM-side predicate (parse success +
constraint subset) for JSON, one Arrow-batched UDF for binary wire
payloads and JSON schemas beyond the compiled subset. The broker counts
that column inside its produce write job, so validation adds no job.

Binary WIRE formats: topics can set ``tansu.schema.wire=avro`` to carry
real Avro binary payloads (avro.rs:365-540 parity) — decoded by the pure
Python spec codec in ``avro_wire.py`` through an Arrow-batched mapInPandas
kernel (no spark-avro jar needed; the container has none). The typed
column surface is identical to the JSON path. spark-avro/spark-protobuf
runtimes, when present, remain the preferred JVM-side path and are probed
first.
"""

from __future__ import annotations

import functools
import os
import time
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType, StructType

from tansu_spark.registry.types import (
    avro_to_spark,
    compile_constraints,
    compile_scalar,
    compile_type_strictness,
    json_schema_to_spark,
    load_schema_file,
    shadow_numeric,
    unsupported_keywords,
)


class ValidationError(ValueError):
    """A produced batch failed schema validation (whole batch rejected,
    per Registry::validate)."""


class UnsupportedSchemaError(ValueError):
    """A JSON Schema uses constraint keywords outside the compiled subset
    and no full-vocabulary fallback validator is available. Raised at
    registration so the schema can never silently validate as
    always-true (the reference rejects such records — json.rs:59-81)."""


def _has_jsonschema() -> bool:
    try:
        import jsonschema  # noqa: F401

        return True
    except ImportError:
        return False


class TopicSchema:
    def __init__(self, dialect: str, raw: Any):
        self.dialect = dialect
        self.raw = raw
        # JSON dialect: keywords the JVM compiler can't express route the
        # topic through the full `jsonschema` Python validator (Arrow-
        # batched kernel). With no fallback available, registration fails
        # loudly rather than accepting what the reference would reject.
        self.full_validator_keywords: list[str] = []
        if dialect == "json":
            unk: set[str] = set()
            for which in ("key", "value"):
                part = self._part(which)
                if part is not None:
                    unk |= unsupported_keywords(part)
            if unk:
                if not _has_jsonschema():
                    raise UnsupportedSchemaError(
                        "JSON Schema uses unsupported constraint keywords "
                        f"{sorted(unk)} and the `jsonschema` package is not "
                        "installed; refusing to register a schema that "
                        "would silently validate as always-true "
                        "(reference rejects: json.rs:59-81)"
                    )
                self.full_validator_keywords = sorted(unk)

    def fingerprint(self) -> str:
        """Stable id of this schema VERSION (md5 of the canonical JSON /
        proto text) — stamped on produced records so old segments decode
        under their writer schema after a migration (lib.rs parity: the
        reference's registry is keyed object storage; versioning by
        content hash gives the same old-bytes-still-decode property)."""
        import hashlib
        import json as _json

        if self.dialect == "proto":
            text = self.raw.get("_source", _json.dumps(sorted(self.raw["messages"])))
        else:
            text = _json.dumps(self.raw, sort_keys=True, separators=(",", ":"))
        return hashlib.md5(text.encode()).hexdigest()

    def _part(self, which: str):  # "key" | "value"
        if self.dialect == "avro":
            # .avsc: record with optional key/value fields (avro.rs:55-64)
            for f in self.raw.get("fields", []):
                if f["name"] == which:
                    return f["type"]
            return None
        if self.dialect == "json":
            return self.raw.get("properties", {}).get(which)
        if self.dialect == "proto":
            name = {"key": "Key", "value": "Value"}[which]
            return self.raw["structs"].get(name)
        return None

    def spark_type(self, which: str) -> DataType | None:
        part = self._part(which)
        if part is None:
            return None
        if self.dialect == "avro":
            return avro_to_spark(part)
        if self.dialect == "json":
            return json_schema_to_spark(part)
        return part  # proto parser already returns StructType

    def constraint(self, which: str, col: Column) -> Column:
        """Constraint predicate beyond structural parse (JSON Schema only —
        Avro/proto validity is structural)."""
        if self.dialect == "json":
            part = self._part(which)
            if part is not None:
                return compile_constraints(part, col)
        return F.lit(True)


def _json_full_check(schema: dict) -> Callable[[], Callable[[bytes], None]]:
    """Full-vocabulary JSON Schema check via the `jsonschema` package (the
    reference's jsonschema crate semantics, json.rs:59-81): raises on an
    invalid part. The schema dict travels; the validator compiles on the
    executor."""

    def build() -> Callable[[bytes], None]:
        import json as _json

        from jsonschema import Draft202012Validator

        is_valid = Draft202012Validator(schema).is_valid

        def check(raw: bytes) -> None:
            text = raw.decode("utf-8")
            try:
                instance = _json.loads(text)
            except ValueError:
                # unparseable bytes are a bare STRING instance: the
                # front-door convention types.py::compile_scalar documents
                instance = text
            if not is_valid(instance):
                raise ValueError("fails the JSON schema")

        return check

    return build


def _parts_valid(builds: list[Callable[[], Callable[[bytes], Any]]]):
    """One scalar Arrow-batched UDF over the parts `builds` covers, in
    order: a row is valid iff every non-null part's check returns without
    raising. The iterator form builds each check (decoder, compiled
    validator) once per UDF instance, not once per batch."""

    def passes(check, raw) -> bool:
        try:
            check(bytes(raw))
        except Exception:
            return False
        return True

    def valid(batches: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        checks = [build() for build in builds]
        for cols in batches:
            if isinstance(cols, pd.Series):  # a single part arrives bare
                cols = (cols,)
            yield pd.Series(
                [
                    all(raw is None or passes(c, raw) for c, raw in zip(checks, row))
                    for row in zip(*cols)
                ],
                dtype=bool,
            )

    return F.pandas_udf(valid, "boolean")


class SchemaRegistry:
    """Directory-backed registry with a TTL cache (lib.rs:491-569)."""

    EXTENSIONS = (".json", ".avsc", ".proto")

    def __init__(self, root: str, ttl_seconds: float = 300.0):
        self.root = root
        self.ttl = ttl_seconds
        self._cache: dict[str, tuple[float, TopicSchema | None]] = {}
        # topic -> (built-under key, validity Column): building the
        # compiled predicate costs hundreds of py4j calls per produce
        self._valid: dict[str, tuple[tuple, Column]] = {}

    def schema_for(self, topic: str) -> TopicSchema | None:
        hit = self._cache.get(topic)
        if hit and (time.monotonic() - hit[0]) < self.ttl:
            return hit[1]
        found: TopicSchema | None = None
        for ext in self.EXTENSIONS:
            path = os.path.join(self.root, f"{topic}{ext}")
            if os.path.exists(path):
                dialect, raw = load_schema_file(path)
                found = TopicSchema(dialect, raw)
                break
        self._cache[topic] = (time.monotonic(), found)
        return found

    # ------------------------------------------------------------- validation
    def _valid_predicate(self, ts: TopicSchema, df: DataFrame) -> Column:
        """True iff the record passes: each schema'd part must parse into
        the expected type (nulls allowed only for absent parts) and satisfy
        compiled constraints."""
        preds = []
        for which in ("key", "value"):
            st = ts.spark_type(which)
            if st is None:
                continue
            raw = F.col(which).cast("string")
            if ts.dialect == "json":
                part = ts._part(which)
                if isinstance(st, StructType):
                    # PERMISSIVE from_json yields null for unparseable
                    # input — the null check is the parse-validity test.
                    # Constraints and the strictness conjunct evaluate on
                    # the SHADOW parse (integer fields widened to double)
                    # so integer-valued floats — valid JSON Schema
                    # integers — surface values instead of parse-nulls;
                    # strictness additionally rejects present-but-mistyped
                    # / explicit-null typed fields that PERMISSIVE parsing
                    # disguises as absent (types.py — json.rs:59-81).
                    shadow = F.from_json(raw, shadow_numeric(st))
                    ok = F.col(which).isNull() | (
                        shadow.isNotNull()
                        & ts.constraint(which, shadow)
                        & compile_type_strictness(part, raw, shadow)
                    )
                else:
                    # scalar part: uniform typed-JSON-or-bare-string
                    # convention, shared with the fallback check
                    ok = F.col(which).isNull() | compile_scalar(part, raw)
            elif isinstance(st, StructType):
                parsed = F.from_json(raw, st)
                ok = F.col(which).isNull() | (
                    parsed.isNotNull() & ts.constraint(which, parsed)
                )
            else:
                value = raw.cast(st)
                ok = F.col(which).isNull() | (
                    value.isNotNull() & ts.constraint(which, value)
                )
            preds.append(ok)
        return functools.reduce(Column.__and__, preds) if preds else F.lit(True)

    def valid_column(self, topic: str, df: DataFrame, wire: str = "json") -> Column:
        """Per-row validity against the topic's schema (lib.rs:571-599),
        True where the topic has none. The compiled `_valid_predicate`
        serves JSON and scalar parts; avro/proto wire payloads and JSON
        schemas beyond the compiled subset get ONE Arrow-batched UDF over
        the present key/value parts — spec-decode success (decode failure
        = invalid record, the reference's Decoder-error path,
        avro.rs:365-540) or `jsonschema` is_valid (json.rs:59-81). The
        column is only built here; it runs inside whatever job consumes
        it (the broker counts it in its produce write job). The built
        column is cached per topic and reused while the schema version,
        the wire, the present parts and the SparkContext (whose JVM holds
        the column and its UDF) stay the same."""
        ts = self.schema_for(topic)
        if ts is None:
            return F.lit(True)
        key = (
            df.sparkSession.sparkContext,
            ts.fingerprint(),
            wire,
            tuple(c for c in ("key", "value") if c in df.columns),
        )
        hit = self._valid.get(topic)
        if hit is None or hit[0] != key:
            hit = self._valid[topic] = (key, self._build_valid(ts, df, wire))
        return hit[1]

    def _build_valid(self, ts: TopicSchema, df: DataFrame, wire: str) -> Column:
        if wire == ts.dialect and wire in ("avro", "proto"):
            builds = {w: lambda d=dec: d for w, dec in self._wire_decoders(ts).items()}
        elif ts.dialect == "json" and ts.full_validator_keywords:
            builds = {
                w: _json_full_check(ts._part(w))
                for w in ("key", "value")
                if ts._part(w) is not None
            }
        else:
            return self._valid_predicate(ts, df)
        present = [w for w in builds if w in df.columns]
        if not present:
            return F.lit(True)
        return _parts_valid([builds[w] for w in present])(*map(F.col, present))

    def rejection(self, topic: str, n_bad: int) -> ValidationError:
        return ValidationError(
            f"batch rejected: {n_bad} record(s) fail the "
            f"{self.schema_for(topic).dialect} schema for topic {topic!r}"
        )

    def validate(self, topic: str, df: DataFrame, wire: str = "json") -> None:
        """Reject the batch if ANY record is invalid (lib.rs:571-599): one
        count of `valid_column`'s false rows. The broker does not call
        this — its produce counts the same column inside the write job."""
        n_bad = df.filter(~self.valid_column(topic, df, wire)).count()
        if n_bad:
            raise self.rejection(topic, n_bad)

    def _wire_decoders(self, ts: TopicSchema) -> dict[str, Any]:
        """Per-part ``bytes -> python value`` decode callables for the
        topic's binary wire dialect (avro or proto)."""
        out: dict[str, Any] = {}
        if ts.dialect == "avro":
            from tansu_spark.registry import avro_wire as W

            for w in ("key", "value"):
                part = ts._part(w)
                if part is not None:
                    out[w] = (lambda sch: lambda raw: W.decode(sch, raw))(part)
        elif ts.dialect == "proto":
            from tansu_spark.registry.proto_wire import ProtoCodec

            codec = ProtoCodec(ts.raw["messages"], ts.raw["enums"])
            for w, msg in (("key", "Key"), ("value", "Value")):
                if msg in ts.raw["messages"]:
                    out[w] = (lambda m: lambda raw: codec.decode(m, raw))(msg)
        return out

    # ----------------------------------------------------------------- encode
    def encode_record(
        self, topic: str, key: Any, value: Any, wire: str = "json"
    ) -> tuple[bytes | None, bytes | None]:
        """The `cat produce` direction (nisshi-cat/src/produce.rs): a
        JSON-shaped record encoded into the topic's wire format — Avro
        binary, Protobuf binary, or JSON bytes — per the registered
        schema. Schema-less topics pass JSON bytes through."""
        import json as _json

        ts = self.schema_for(topic)

        def enc(which: str, obj: Any) -> bytes | None:
            if obj is None:
                return None
            if ts is not None and wire == "avro" and ts.dialect == "avro":
                from tansu_spark.registry import avro_wire as W

                part = ts._part(which)
                if part is not None:
                    return W.encode(part, obj)
            if ts is not None and wire == "proto" and ts.dialect == "proto":
                from tansu_spark.registry.proto_wire import ProtoCodec

                msg = {"key": "Key", "value": "Value"}[which]
                if msg in ts.raw["messages"]:
                    codec = ProtoCodec(ts.raw["messages"], ts.raw["enums"])
                    return codec.encode(msg, obj)
            if isinstance(obj, bytes):
                return obj
            if isinstance(obj, str):
                return obj.encode("utf-8")
            return _json.dumps(obj).encode("utf-8")

        return enc("key", key), enc("value", value)

    # ----------------------------------------------------------------- decode
    def decode(
        self,
        topic: str,
        df: DataFrame,
        wire: str = "json",
        writer_schemas: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Typed view of a topic DataFrame: key/value bytes → schema'd
        columns (the AsArrow equivalent, feeding the lake sink).

        ``wire="avro"`` decodes Avro BINARY payloads via the pure-Python
        spec codec (avro_wire.py) in one Arrow-batched mapInPandas pass —
        the non-jar replication of avro.rs:365-540.

        ``writer_schemas`` ({fingerprint: raw avsc dict}) enables READER-
        schema resolution: records stamped with a `tansu.schema.fp`
        header decode under their WRITER schema resolved against the
        current registry schema (new fields from defaults, removed
        fields skipped) — the operational path after an add-only
        migration (Delta::migrate_schema parity, avro_wire.py)."""
        ts = self.schema_for(topic)
        if ts is None:
            return df
        if wire == ts.dialect and wire in ("avro", "proto"):
            return self._decode_binary_wire(ts, df, writer_schemas)
        out = df
        for which in ("key", "value"):
            st = ts.spark_type(which)
            if st is None:
                continue
            raw = F.col(which).cast("string")
            if isinstance(st, StructType):
                decoded = F.from_json(raw, st)
            elif ts.dialect == "json" and isinstance(st, StringType):
                # same convention as validation: a quoted JSON string
                # decodes to its unquoted instance; unparseable bytes ARE
                # the string instance (front-door raw utf-8 keys)
                v = F.try_parse_json(raw)
                decoded = F.when(
                    F.schema_of_variant(v) == "STRING",
                    F.variant_get(v, "$", "string"),
                ).otherwise(raw)
            else:
                decoded = raw.cast(st)
            out = out.withColumn(which, decoded)
        return out

    def decode_inferred(
        self, df: DataFrame, which: str = "value", sample: int = 1000
    ) -> DataFrame:
        """Typed decode for a SCHEMA-LESS JSON topic: infer the single
        common Spark type from instance values (json/arrow.rs:87-148 —
        integral Number → Int64 else Float64, strict NoCommonType
        unification, no widening) and parse the column with it.

        Inference reads a bounded driver-side sample (control-plane-sized
        collect); the typed parse itself is a JVM-side from_json over the
        full data — at 100 TB the sample is one tiny job, the decode is
        map-only. A value outside the inferred type surfaces as a null
        struct on that row (PERMISSIVE parse), not a silent widen —
        callers wanting reject-batch semantics count those nulls."""
        from pyspark.sql.types import StructType as _Struct

        from tansu_spark.registry.infer import infer_json_strings

        raw = [
            r[0] if r[0] is None else bytes(r[0]).decode("utf-8")
            for r in df.select(which).limit(sample).collect()
        ]
        inferred = infer_json_strings(raw)
        col = F.col(which).cast("string")
        decoded = (
            F.from_json(col, inferred) if isinstance(inferred, _Struct) else col.cast(inferred)
        )
        return df.withColumn(which, decoded)

    def _decode_binary_wire(
        self,
        ts: TopicSchema,
        df: DataFrame,
        writer_schemas: dict[str, Any] | None = None,
    ) -> DataFrame:
        """One mapInPandas over the batch: every schema'd part's binary
        column → its typed StructType/scalar (avro_wire / proto_wire spec
        decode), all other columns pass through untouched. The kernel is
        a per-cell spec decode — Python, but Arrow-batched and
        decode-bound (the same work the reference does natively per
        record); undecodable bytes raise, matching reject-whole-batch.

        With ``writer_schemas`` (avro only), rows stamped with a
        `tansu.schema.fp` header whose fingerprint differs from the
        current schema decode via avro_wire.decode_resolved — writer
        bytes, reader shape."""
        import pandas as pd
        from pyspark.sql.types import StructField, StructType as _Struct

        decoders = self._wire_decoders(ts)
        parts = {
            w: (decoders[w], ts.spark_type(w))
            for w in decoders
            if w in df.columns
        }
        if not parts:
            return df
        fields = [
            StructField(f.name, parts[f.name][1], True) if f.name in parts else f
            for f in df.schema.fields
        ]
        out_schema = _Struct(fields)
        names = df.columns

        # per-fingerprint WRITER part schemas for resolved decode
        resolved_parts: dict[str, dict[str, Any]] = {}
        reader_parts: dict[str, Any] = {}
        if ts.dialect == "avro" and writer_schemas and "headers" in names:
            current_fp = ts.fingerprint()
            reader_parts = {w: ts._part(w) for w in parts}
            for fp, raw in writer_schemas.items():
                if fp == current_fp:
                    continue
                wts = TopicSchema("avro", raw)
                resolved_parts[fp] = {w: wts._part(w) for w in parts}

        def row_fp(headers) -> str | None:
            if headers is None:
                return None
            for h in headers:
                if h["key"] == "tansu.schema.fp":
                    return bytes(h["value"]).decode("utf-8", "replace")
            return None

        def kernel(batches):
            from tansu_spark.registry import avro_wire as W

            for pdf in batches:
                fps = (
                    [row_fp(h) for h in pdf["headers"]]
                    if resolved_parts
                    else None
                )
                data = {}
                for c in names:
                    if c in parts:
                        dec = parts[c][0]
                        if fps is None:
                            data[c] = [
                                None if raw is None else dec(bytes(raw))
                                for raw in pdf[c]
                            ]
                        else:
                            rpart = reader_parts[c]
                            cells = []
                            for raw, fp in zip(pdf[c], fps):
                                if raw is None:
                                    cells.append(None)
                                elif fp in resolved_parts:
                                    wpart = resolved_parts[fp].get(c) or rpart
                                    cells.append(
                                        W.decode_resolved(wpart, rpart, bytes(raw))
                                    )
                                else:
                                    cells.append(dec(bytes(raw)))
                            data[c] = cells
                    else:
                        data[c] = pdf[c]
                yield pd.DataFrame(data)

        return df.mapInPandas(kernel, out_schema)
