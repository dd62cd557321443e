"""Dialect normalizer unit tests (reference: dialect.go transformations)."""

from __future__ import annotations

from jsonschema_spark import dialects
from jsonschema_spark.compiler import Compiler
from jsonschema_spark.dialects import normalize_schema


def test_items_array_becomes_prefix_items_with_pointer_alias():
    s = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "items": [{"type": "integer"}, {"type": "string"}],
    }
    n = normalize_schema(s)
    assert n["prefixItems"] == [{"type": "integer"}, {"type": "string"}]
    # inert alias keeps "#/items/0" pointers resolving; shares the same dicts
    assert n["items"] is n["prefixItems"]


def test_additional_items_becomes_items():
    s = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "items": [{"type": "integer"}],
        "additionalItems": {"type": "string"},
    }
    n = normalize_schema(s)
    assert n["items"] == {"type": "string"}
    assert n["prefixItems"] == [{"type": "integer"}]


def test_dependencies_split():
    s = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "dependencies": {"a": ["b"], "c": {"required": ["d"]}},
    }
    n = normalize_schema(s)
    assert n["dependentRequired"] == {"a": ["b"]}
    assert n["dependentSchemas"] == {"c": {"required": ["d"]}}


def test_draft4_boolean_exclusives():
    s = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "minimum": 5,
        "exclusiveMinimum": True,
    }
    n = normalize_schema(s)
    assert n["exclusiveMinimum"] == 5 and "minimum" not in n
    s2 = dict(s, exclusiveMinimum=False)
    n2 = normalize_schema(s2)
    assert n2["minimum"] == 5 and "exclusiveMinimum" not in n2


def test_draft4_id_and_legacy_anchor():
    n = normalize_schema({"$schema": "http://json-schema.org/draft-04/schema#", "id": "http://x.test/s#"})
    assert n["$id"] == "http://x.test/s"
    n2 = normalize_schema(
        {"$schema": "http://json-schema.org/draft-06/schema#", "$id": "#foo"}
    )
    assert n2.get("$anchor") == "foo" and "$id" not in n2


def test_legacy_ref_ignores_siblings():
    s = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "definitions": {"x": {"type": "integer"}},
        "$ref": "#/definitions/x",
        "minimum": 100,
    }
    n = normalize_schema(s)
    assert "minimum" not in n and n["$ref"] == "#/definitions/x"
    c = Compiler().compile(s)
    assert c.validate(3).valid  # minimum sibling ignored under draft-07


def test_unclaimed_keywords_dropped():
    s = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "const": 5,  # const arrived in draft-06: must stay inert under d4
    }
    assert Compiler().compile(s).validate(7).valid


def test_draft4_strict_integer():
    s = {"$schema": "http://json-schema.org/draft-04/schema#", "type": "integer"}
    c = Compiler().compile(s)
    assert c.validate_json("1").valid
    assert not c.validate_json("1.0").valid  # draft-04: floats never integers
    # same schema under 2020-12: 1.0 IS an integer
    c2 = Compiler().compile({"type": "integer"})
    assert c2.validate_json("1.0").valid


def test_recursive_ref_maps_to_dynamic():
    s = {
        "$schema": "https://json-schema.org/draft/2019-09/schema",
        "$recursiveAnchor": True,
        "properties": {"child": {"$recursiveRef": "#"}},
        "required": ["name"],
    }
    c = Compiler().compile(s)
    assert c.validate({"name": "a", "child": {"name": "b"}}).valid
    assert not c.validate({"name": "a", "child": {}}).valid


def test_typed_planner_accepts_draft7(spark):
    from jsonschema_spark.plans.columns import validate_dataframe

    df = spark.createDataFrame([(1, 5), (2, 20)], "id int, v int")
    schema = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "properties": {"v": {"maximum": 10, "const": 5}},
        "dependencies": {"v": ["id"]},
    }
    got = {r["id"]: r["valid"] for r in validate_dataframe(df, schema).collect()}
    assert got == {1: True, 2: False}


def test_typed_planner_apply_matches_validate_dataframe_on_draft7(spark):
    """SparkPlanCompiler.apply and validate_dataframe normalize a legacy
    schema once each way: dependencies and array-form items with
    additionalItems keep their draft-07 meaning through both."""
    from jsonschema_spark.plans import SparkPlanCompiler
    from jsonschema_spark.plans.columns import validate_dataframe

    df = spark.createDataFrame(
        [(1, 1, 2, ["ab", "x"]), (2, 1, None, ["x"]), (3, None, None, ["x", "yz"]),
         (4, None, None, ["abc"])],
        "id int, a int, b int, t array<string>",
    )
    schema = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "dependencies": {"a": ["b"]},
        "properties": {
            "t": {
                "items": [{"type": "string"}],
                "additionalItems": {"maxLength": 1},
            }
        },
    }

    def rows(out):
        return sorted(
            (r["id"], r["valid"], tuple(sorted((v["keyword"], v["code"]) for v in r["violations"])))
            for r in out.collect()
        )

    applied = rows(SparkPlanCompiler(schema).apply(df))
    assert applied == rows(validate_dataframe(df, schema))
    assert {i: ok for i, ok, _ in applied} == {1: True, 2: False, 3: False, 4: True}


def test_embedded_legacy_resource_under_modern_root():
    """A draft-7 resource embedded inline under a 2020-12 root (nested
    $schema) is normalized per-resource — the reference switches dialect at
    resource roots (dialect.go); array-form items must become prefixItems."""
    from jsonschema_spark.dialects import normalize_schema

    legacy = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "$id": "https://example.com/legacy",
        "items": [{"type": "string"}, {"type": "integer"}],
        "dependencies": {"a": ["b"]},
    }
    root = {"$defs": {"leg": legacy}, "properties": {"x": {"type": "string"}}}
    out = normalize_schema(root)
    norm = out["$defs"]["leg"]
    assert norm["prefixItems"] == [{"type": "string"}, {"type": "integer"}]
    assert norm["dependentRequired"] == {"a": ["b"]}
    # untouched modern parts keep identity (copy-free fast path)
    assert out["properties"] is root["properties"]
    # an all-modern document passes through with identity
    modern = {"properties": {"x": {"type": "string"}}}
    assert normalize_schema(modern) is modern


def test_embedded_legacy_resource_evaluates(spark):
    """End-to-end: a legacy subtree's semantics (array-form items) apply."""
    from jsonschema_spark.compiler import Compiler

    s = {
        "properties": {
            "t": {
                "$schema": "http://json-schema.org/draft-07/schema#",
                "items": [{"type": "string"}, {"type": "integer"}],
            }
        }
    }
    c = Compiler().compile(s)
    assert c.validate({"t": ["a", 1]}).valid
    assert not c.validate({"t": [1, "a"]}).valid
