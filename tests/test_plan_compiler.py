"""Typed-plan compiler tests: the Spark Column plan must agree with the scalar
evaluator core on (a) valid flags and (b) (path, keyword, code) violation
triples, over the synthetic docs table with injected defects.

This is the engine's central metamorphic property: one semantics, two
execution strategies (set-at-a-time columnar vs per-instance scalar)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.compiler import Compiler
from jsonschema_spark.plans import SparkPlanCompiler
from jsonschema_spark.synth import DOCS_SCHEMA, SynthConfig, make_docs


def strip_nulls(value):
    """Apply the engine's null≡absent convention before scalar evaluation."""
    if isinstance(value, dict):
        return {k: strip_nulls(v) for k, v in value.items() if v is not None}
    if isinstance(value, list):
        return [strip_nulls(v) for v in value]
    return value


@pytest.fixture(scope="module")
def docs(spark):
    docs, ref, media = make_docs(spark, SynthConfig(n_docs=400, seed=42, skew_frac=0.01))
    return docs.cache()


def test_plan_matches_scalar_evaluator(spark, docs):
    plan = SparkPlanCompiler(DOCS_SCHEMA, assert_format=True)
    out = plan.apply(docs).select("doc_id", "spans", "valid", "violations").collect()

    scalar = Compiler().set_assert_format(True).compile(DOCS_SCHEMA)

    n_invalid = 0
    for row in out:
        instance = strip_nulls(row.asDict(recursive=True))
        instance.pop("valid", None)
        instance.pop("violations", None)
        res = scalar.validate(instance)
        assert res.valid == row["valid"], (
            f"disagreement for {row['doc_id']}: scalar={res.valid} plan={row['valid']}\n"
            f"scalar violations: {[(v.instance_path, v.code) for v in res.violations]}\n"
            f"plan violations: {[(v['instance_path'], v['code']) for v in row['violations']]}"
        )
        if not row["valid"]:
            n_invalid += 1
            # plan emits leaf codes; scalar additionally wraps with
            # applicator-level codes — compare the leaf sets
            wrappers = {
                "all_of_item_mismatch",
                "if_then_mismatch",
                "if_else_mismatch",
                "ref_mismatch",
                "property_mismatch",
                "properties_mismatch",
                "item_mismatch",
                "items_mismatch",
                "prefix_item_mismatch",
                "prefix_items_mismatch",
            }
            scalar_leaf = {
                (v.instance_path, v.code) for v in res.violations if v.code not in wrappers
            }
            plan_leaf = {
                (v["instance_path"], v["code"])
                for v in row["violations"]
                if v["code"] not in wrappers
            }
            assert scalar_leaf == plan_leaf, (
                f"violation set mismatch for {row['doc_id']}:\n"
                f"scalar-only: {scalar_leaf - plan_leaf}\nplan-only: {plan_leaf - scalar_leaf}"
            )
    assert n_invalid > 0, "synthetic data should contain invalid docs"


def test_plan_is_narrow_no_shuffle_no_python(spark, docs):
    plan = SparkPlanCompiler(DOCS_SCHEMA)
    out = plan.apply(docs)
    physical = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "Exchange" not in physical, "validation plan must not shuffle"
    assert "BatchEvalPython" not in physical and "ArrowEvalPython" not in physical, (
        "validation plan must not drop to Python"
    )


def test_violation_rows_shape(spark, docs):
    plan = SparkPlanCompiler(DOCS_SCHEMA)
    vio = (
        plan.apply(docs)
        .select("doc_id", F.explode("violations").alias("v"))
        .select("doc_id", "v.instance_path", "v.keyword", "v.code", "v.params")
    )
    rows = vio.limit(20).collect()
    assert rows, "expected violations"
    for r in rows:
        # leaf rows carry a JSON-pointer path; applicator summary rows
        # anchor at the parent (root = "") like the scalar core
        assert r.instance_path == "" or r.instance_path.startswith("/")
        assert r.code
        assert isinstance(r.params, dict)


def test_golden_violation_counts(spark, docs):
    """Pin aggregate violation-code counts for seed=42 (golden fixture)."""
    plan = SparkPlanCompiler(DOCS_SCHEMA, assert_format=True)
    counts = {
        r["code"]: r["n"]
        for r in plan.apply(docs)
        .select(F.explode("violations").alias("v"))
        .groupBy(F.col("v.code").alias("code"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # determinism: same seed ⇒ same counts
    counts2 = {
        r["code"]: r["n"]
        for r in plan.apply(docs)
        .select(F.explode("violations").alias("v"))
        .groupBy(F.col("v.code").alias("code"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == counts2
    assert counts.get("value_not_in_enum", 0) > 0
    assert counts.get("missing_required_property", 0) > 0
    assert counts.get("value_below_minimum", 0) > 0
    assert counts.get("string_too_short", 0) > 0


def test_multiple_of_decimal_semantics_on_doubles(spark):
    """Float divisors mean their decimal literal (0.1 == 1/10, not the
    binary float); reference keeps exact rationals (rat.go numberRat)."""
    import pyspark.sql.types as T

    from jsonschema_spark.plans.columns import validate_dataframe

    df = spark.createDataFrame(
        [(0.3,), (0.25,), (7.5,), (35.000001,), (None,)],
        T.StructType([T.StructField("x", T.DoubleType())]),
    )
    got = {
        r.x: r.valid
        for r in validate_dataframe(df, {"properties": {"x": {"multipleOf": 0.1}}})
        .select("x", "valid")
        .collect()
    }
    assert got == {0.3: True, 0.25: False, 7.5: True, 35.000001: False, None: True}


def _violation_rows(df):
    return sorted(
        (r["doc_id"], r["v"]["instance_path"], r["v"]["keyword"], r["v"]["code"],
         tuple(sorted((r["v"]["params"] or {}).items())))
        for r in df.select("doc_id", F.explode("violations").alias("v")).collect()
    )


def test_plan_cache_key_discriminates(spark, docs, plan_compiles):
    """Same (schema, input StructType, assert_format) → one compile; any of
    the three changed → a fresh compile."""
    from jsonschema_spark.plans.columns import compiled_plan

    first = compiled_plan(spark, docs.schema, DOCS_SCHEMA)
    assert compiled_plan(spark, docs.schema, DOCS_SCHEMA) is first
    assert len(plan_compiles) == 1
    assert compiled_plan(spark, docs.schema, {**DOCS_SCHEMA, "minProperties": 1}) is not first
    assert len(plan_compiles) == 2
    assert compiled_plan(spark, docs.select("spans", "doc_id").schema, DOCS_SCHEMA) is not first
    assert len(plan_compiles) == 3
    assert compiled_plan(spark, docs.schema, DOCS_SCHEMA, assert_format=False) is not first
    assert len(plan_compiles) == 4
    assert compiled_plan(spark, docs.schema, DOCS_SCHEMA) is first
    assert len(plan_compiles) == 4


def test_cached_plan_matches_fresh_compile_on_two_frames(spark, docs, plan_compiles):
    """One cached plan applied to two different DataFrames gives the same
    violation rows as an uncached compile of each."""
    from jsonschema_spark.plans.columns import validate_dataframe

    halves = [docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == k) for k in (0, 1)]
    for half in halves:
        plan = SparkPlanCompiler(DOCS_SCHEMA)
        stages: list = []
        fresh = plan.violations_column(half.schema, stages=stages)
        want = plan.attach_stages(half, stages).withColumn("violations", fresh)
        assert _violation_rows(validate_dataframe(half, DOCS_SCHEMA)) == _violation_rows(want)
    # two fresh compiles in the loop + one cached compile shared by both halves
    assert len(plan_compiles) == 3


def test_revalidating_validated_output(spark, docs):
    """validate_dataframe over its own output with the same schema: the stage
    columns were dropped, so nothing collides, and the rows are unchanged."""
    from jsonschema_spark.plans.columns import validate_dataframe

    once = validate_dataframe(docs, DOCS_SCHEMA)
    assert not [c for c in once.columns if c.startswith("__jss_stage")]
    twice = validate_dataframe(once, DOCS_SCHEMA)
    assert twice.columns == once.columns
    assert _violation_rows(twice) == _violation_rows(once)
    assert twice.filter(~F.col("valid")).count() == once.filter(~F.col("valid")).count() > 0
