"""Constraint-plan compiler: JSON Schema over a *typed* Spark schema lowers to
pure ``pyspark.sql.Column`` expressions — the engine's whole-stage-codegen
"fast path" for 100 TB scale.

Where the reference interprets one instance at a time
(reference: validate.go evaluate), we compile the schema ONCE on the driver
into (a) a boolean ``valid`` column and (b) a ``violations``
``array<struct<instance_path,keyword,code,params>>`` column, then let
Catalyst/Tungsten own execution: predicate pushdown, common-subexpression
elimination, whole-stage codegen, AQE. Per-span checks ride higher-order
functions (``transform``/``filter``/``exists``) — no explode, no shuffle, and
never per-row Python.

Null convention (documented divergence): a NULL column/field is treated as the
property being *absent* — ``required`` fails on NULL; value assertions are
skipped on NULL (JSON Schema applies assertions only to present values).

Dynamic residue (patterns Java regex can't run, non-regex formats, dynamic
JSON documents) is routed to the Arrow-batched evaluator UDF in
``jsonschema_spark.functions.udf`` — see SURVEY.md §4.2.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from decimal import Decimal
from fractions import Fraction
from typing import Any
from itertools import count as _it_count

_STAGE_IDS = _it_count()

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.formats import SPARK_REGEX_FORMATS
from jsonschema_spark.plans.cache import PlanCache
from jsonschema_spark.registry import Registry

__all__ = ["SparkPlanCompiler", "compiled_plan", "validate_dataframe", "VIOLATION_SCHEMA_DDL"]

VIOLATION_SCHEMA_DDL = (
    "array<struct<instance_path:string,keyword:string,code:string,params:map<string,string>>>"
)

_EMPTY_VIOLATIONS = f"CAST(array() AS {VIOLATION_SCHEMA_DDL})"

_MAX_REF_DEPTH = 16


class PlanCompileError(ValueError):
    pass


@dataclass
class _Val:
    """The value under validation: expression + static type + dynamic path."""

    col: Column
    dtype: T.DataType
    path: Column  # string column: JSON-pointer of this value
    in_lambda: bool = False  # True inside a HOF lambda (not stageable)


@dataclass
class _Node:
    """Compiled subschema: validity predicate + violation constructor."""

    valid: Column
    violations: Column  # array<struct<...>>


def _lit_path(s: str) -> Column:
    return F.lit(s)


def _escape_token(tok: str) -> str:
    return tok.replace("~", "~0").replace("/", "~1")


def _empty_violations() -> Column:
    return F.expr(_EMPTY_VIOLATIONS)


def _mk_violation(path: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> Column:
    if params:
        kv: list[Column] = []
        for k, v in params.items():
            kv.append(F.lit(k))
            kv.append(v.cast("string"))
        pmap = F.create_map(*kv)
    else:
        pmap = F.expr("CAST(map() AS map<string,string>)")
    return F.struct(
        path.cast("string").alias("instance_path"),
        F.lit(keyword).alias("keyword"),
        F.lit(code).alias("code"),
        pmap.alias("params"),
    )


def _safe(cond: Column) -> Column:
    """Collapse SQL three-valued logic: NULL condition means 'not violated'."""
    return F.coalesce(cond, F.lit(False))


def _cond_violation(cond: Column, *args: Any, **kwargs: Any) -> Column:
    """array with the violation when cond, else empty array."""
    return F.when(_safe(cond), F.array(_mk_violation(*args, **kwargs))).otherwise(_empty_violations())


def _summary_violation(
    conds_names: list[tuple[Column, Any]],
    path: Column,
    keyword: str,
    code_single: str,
    code_plural: str,
    *,
    param_single: str = "property",
    param_plural: str = "properties",
    sort_plural: bool = True,
    dedupe_plural: bool = False,
) -> Column:
    """ONE summary row per applicator keyword, mirroring the scalar core's
    singular/plural emission (evaluator.py `_eval_object`): code_single with
    the first failing name when exactly one sub-check fails, code_plural with
    the joined name list when several fail, nothing when none fail."""
    if not conds_names:
        return _empty_violations()
    flags = [_safe(c) for c, _ in conds_names]
    cnt = flags[0].cast("int")
    for fl in flags[1:]:
        cnt = cnt + fl.cast("int")
    whens = [F.when(fl, F.lit(str(n))) for fl, (_, n) in zip(flags, conds_names)]
    first = F.coalesce(*whens, F.lit("")) if len(whens) > 1 else F.coalesce(whens[0], F.lit(""))
    bad = F.filter(F.array(*whens), lambda x: x.isNotNull())
    if dedupe_plural:
        bad = F.array_distinct(bad)
    if sort_plural:
        bad = F.array_sort(bad)
    joined = F.array_join(bad, ", ")
    # cnt == 0 FIRST: CaseWhen evaluates conditions in order and interpreted
    # HOF bodies have no CSE, so on the common (all-valid) path the flag sum
    # evaluates ONCE instead of twice (cnt==1 then cnt>1) — measurable on
    # per-element object schemas where every flag re-runs its predicate
    return (
        F.when(cnt == 0, _empty_violations())
        .when(cnt == 1, F.array(_mk_violation(path, keyword, code_single, {param_single: first})))
        .otherwise(F.array(_mk_violation(path, keyword, code_plural, {param_plural: joined})))
    )


def _dynamic_index_summary(
    present: Column, bad_idx: Column, path: Column,
    keyword: str, code_single: str, code_plural: str,
) -> Column:
    """Runtime singular/plural summary over an array of failing element
    indices (items / unevaluatedItems — scalar core evaluator.py:519-535)."""
    nbad = F.size(bad_idx)
    return (
        F.when(
            _safe(present & (nbad == 1)),
            F.array(_mk_violation(path, keyword, code_single,
                                  {"index": F.element_at(bad_idx, 1)})),
        )
        .when(
            _safe(present & (nbad > 1)),
            F.array(_mk_violation(
                path, keyword, code_plural,
                {"indexs": F.array_join(
                    F.transform(bad_idx, lambda x: x.cast("string")), ", ")},
            )),
        )
        .otherwise(_empty_violations())
    )


def _concat_violations(parts: list[Column]) -> Column:
    parts = [p for p in parts if p is not None]
    if not parts:
        return _empty_violations()
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def _is_number_type(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType))


def _is_integer_type(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _dec_scale(f: Fraction) -> int | None:
    """Smallest s with f*10^s integral, or None if f is non-terminating
    (denominator has a prime factor other than 2/5 — can't occur for
    divisors parsed from JSON text, which are terminating by construction)."""
    den = f.denominator
    s = 0
    for p in (2, 5):
        while den % p == 0:
            den //= p
    if den != 1:
        return None
    den = f.denominator
    while f.denominator > 1 and (f * 10**s).denominator > 1:
        s += 1
        if s > 38:
            return None
    return s


def _decimal_multiple_plan(fdiv: Fraction, dt: T.DecimalType) -> str | None:
    """Common decimal type for an EXACT `col % divisor` remainder, or None
    when the divisor never terminates or the scale bump would overflow
    precision 38 (callers fall back to the scaled-double path). The scale is
    max(column scale, divisor scale) so neither operand is rounded; the
    precision bump is bounded by the scale delta plus the divisor's integer
    digits."""
    sd = _dec_scale(fdiv)
    if sd is None:
        return None
    t_scale = max(dt.scale, sd)
    t_prec = max(dt.precision + (t_scale - dt.scale), len(str(max(int(fdiv), 1))) + t_scale)
    if t_prec > 38:
        return None
    return f"decimal({t_prec},{t_scale})"


def _num_lit(v: Any) -> Column:
    if isinstance(v, Fraction):
        if v.denominator == 1:
            return F.lit(int(v))
        return F.lit(float(v))
    return F.lit(v)


def _num_str(v: Any) -> str:
    if isinstance(v, Fraction):
        return str(int(v)) if v.denominator == 1 else str(float(v))
    return str(v)


def _spark_type_name(dt: T.DataType) -> str:
    """JSON type family of a Spark type (static 'type' checking)."""
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if _is_integer_type(dt):
        return "integer"
    if _is_number_type(dt):
        return "number"
    if isinstance(dt, (T.ArrayType,)):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "string"  # serialized form
    if isinstance(dt, T.NullType):
        return "null"
    return "unknown"


class SparkPlanCompiler:
    """Compiles a JSON Schema against a typed Spark schema (driver-side, once).

    Reference analogue: compiler.go Compile → schema tree; here the "physical
    plan" is a Column expression tree Catalyst owns. ``$ref`` is inlined at
    plan time (reference resolves refs at compile: ref.go resolveRef).
    """

    def __init__(
        self, schema: Any, *, assert_format: bool = True, assert_content: bool = False
    ) -> None:
        from jsonschema_spark.dialects import normalize_schema

        # apply() hands the caller's schema to compiled_plan, which normalizes
        # it itself: normalize_schema is not idempotent on legacy dialects
        self._source_schema = schema
        schema = normalize_schema(schema)  # accept legacy dialects via $schema
        self.schema = schema
        self.assert_format = assert_format
        self.assert_content = assert_content
        self.registry = Registry()
        self.registry.register(schema, "")
        self._stages: list[tuple[str, Column]] | None = None
        self._scope: list[str] = []  # static dynamic-scope base-URI stack
        self._audit(schema)

    @staticmethod
    def _audit(schema: Any, depth: int = 0) -> None:
        """Unknown keywords are annotations per 2020-12 and stay ignored.
        $dynamicRef is handled by bounded static unrolling (the dynamic scope
        at every compile point is statically known because the whole plan is
        inlined; recursion terminates when the fixed StructType runs out of
        matching fields, else _MAX_REF_DEPTH raises — SURVEY §4.2.5-6,
        reference validate.go:155-177)."""
        if depth > 64 or not isinstance(schema, dict):
            return
        for v in schema.values():
            if isinstance(v, dict):
                SparkPlanCompiler._audit(v, depth + 1)
            elif isinstance(v, list):
                for item in v:
                    SparkPlanCompiler._audit(item, depth + 1)

    # -------------------------------------------------------------- public API

    def violations_column(
        self,
        df_schema: T.StructType,
        stages: list[tuple[str, Column]] | None = None,
    ) -> Column:
        """Build the violations array column for rows of ``df_schema``, over
        a root struct of its columns by name.

        When ``stages`` is passed, expensive multiply-referenced
        subexpressions (per-element transforms for items summaries) are
        appended to it as (name, Column) pairs the caller must withColumn
        BEFORE the returned column (their own projection keeps CollapseProject
        from re-inlining them — Catalyst does not CSE non-cheap exprs inside
        one projection, measured 3.4x on variant parse). Without ``stages``
        the plan is still correct, just recomputes those subtrees."""
        root = F.struct(*[F.col(f.name).alias(f.name) for f in df_schema.fields])
        self._stages = stages
        self._scope = []
        try:
            val = _Val(col=root, dtype=df_schema, path=_lit_path(""))
            node = self._compile(self.schema, val, 0)
        finally:
            self._stages = None
        return node.violations

    def _maybe_stage(self, col: Column, val: "_Val") -> Column:
        if self._stages is None or val.in_lambda:
            return col
        # process-global counter — see plans/variant.py: names must be unique
        # across compiler instances sharing one stages list
        name = f"__jss_stage_{next(_STAGE_IDS)}"
        self._stages.append((name, col))
        return F.col(name)

    @staticmethod
    def attach_stages(df: DataFrame, stages: list[tuple[str, Column]]) -> DataFrame:
        """Attach staged columns in dependency LAYERS.

        A stage expression may reference earlier stage names, so they cannot
        all go in one projection — but one ``withColumns`` per layer (flushed
        only when a stage references a name in the current batch) keeps plan
        re-analysis linear in layer count. Per-stage ``withColumn`` re-analyzes
        the whole accumulated plan each time — measured ~10s of driver time
        on a 24-stage recursive variant unroll. The substring dependency check
        is conservative (a false positive only splits a layer)."""
        batch: dict[str, Column] = {}
        for name, col in stages:
            if batch:
                text = str(col)  # one py4j round trip serializing the whole tree
                if any(n in text for n in batch):
                    df = df.withColumns(batch)
                    batch = {}
            batch[name] = col
        return df.withColumns(batch) if batch else df

    def apply(
        self,
        df: DataFrame,
        *,
        violations_col: str = "violations",
        valid_col: str = "valid",
    ) -> DataFrame:
        """df + [violations, valid] columns. Narrow projections, no shuffle.
        The plan comes from the application-scoped cache (``compiled_plan``)."""
        return _apply_plan(
            df, self._source_schema, assert_format=self.assert_format,
            assert_content=self.assert_content,
            violations_col=violations_col, valid_col=valid_col,
        )

    # ---------------------------------------------------------------- internal

    def _compile(self, schema: Any, val: _Val, depth: int) -> _Node:
        if schema is True or schema == {}:
            return _Node(valid=F.lit(True), violations=_empty_violations())
        if schema is False:
            return _Node(
                valid=F.lit(False),
                violations=_cond_violation(F.lit(True), val.path, "schema", "false_schema_mismatch"),
            )
        if not isinstance(schema, dict):
            raise PlanCompileError(f"schema must be dict/bool, got {type(schema)}")
        if depth > _MAX_REF_DEPTH:
            raise PlanCompileError(
                f"$ref/$dynamicRef nesting exceeds {_MAX_REF_DEPTH}: the recursion "
                "does not ground out in this DataFrame's static type (genuinely "
                "unbounded — route to the scalar/UDF path)"
            )
        # static dynamic-scope tracking: because the whole plan inlines, the
        # dynamic scope at each compile point is exactly the chain of $id
        # resources entered so far (mirrors evaluator.py _eval scope stack)
        base = self.registry.base_of(schema)
        pushed = False
        if not self._scope or self._scope[-1] != base:
            self._scope.append(base)
            pushed = True
        try:
            return self._compile_dict(schema, val, depth)
        finally:
            if pushed:
                self._scope.pop()

    def _compile_dict(self, schema: dict, val: _Val, depth: int) -> _Node:
        parts: list[Column] = []
        valids: list[Column] = []
        present = val.col.isNotNull()

        def add(cond_violated: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            """cond applies only when the value is present."""
            cond = _safe(present & cond_violated)
            parts.append(_cond_violation(cond, val.path, keyword, code, params))
            valids.append(~cond)

        if "$ref" in schema and isinstance(schema["$ref"], str):
            target, _ = self.registry.resolve_ref(schema["$ref"], schema, "")
            sub = self._compile(target, val, depth + 1)
            parts.append(sub.violations)
            # scalar core adds a ref_mismatch summary on top of the target's
            # own violations (evaluator.py:235)
            parts.append(_cond_violation(_safe(~sub.valid), val.path, "$ref", "ref_mismatch"))
            valids.append(sub.valid)

        if "$dynamicRef" in schema and isinstance(schema["$dynamicRef"], str):
            # bounded static unrolling: resolve through the statically-known
            # scope chain; recursion grounds out when the fixed StructType
            # runs out of matching fields (reference: validate.go:684-765)
            target = self._resolve_dynamic_static(schema["$dynamicRef"], schema)
            sub = self._compile(target, val, depth + 1)
            parts.append(sub.violations)
            parts.append(
                _cond_violation(_safe(~sub.valid), val.path, "$dynamicRef", "dynamic_ref_mismatch")
            )
            valids.append(sub.valid)

        self._compile_assertions(schema, val, add, present)

        if (
            self.assert_content
            and isinstance(val.dtype, T.StringType)
            and ("contentEncoding" in schema or "contentMediaType" in schema)
        ):
            self._compile_content(schema, val, add, parts, valids, present)

        # ---- type-directed recursion ------------------------------------
        if isinstance(val.dtype, T.StructType):
            self._compile_object(schema, val, parts, valids, present, depth)
        if isinstance(val.dtype, T.ArrayType):
            self._compile_array(schema, val, parts, valids, present, depth)
        if isinstance(val.dtype, T.MapType):
            self._compile_map(schema, val, parts, valids, present, depth)

        # ---- logical applicators -----------------------------------------
        self._compile_logical(schema, val, parts, valids, present, depth)

        if not parts:
            return _Node(valid=F.lit(True), violations=_empty_violations())
        valid = F.lit(True)
        for c in valids:
            valid = valid & c
        return _Node(valid=valid, violations=_concat_violations(parts))

    def _resolve_dynamic_static(self, ref: str, schema: dict) -> Any:
        """$dynamicRef target under the STATIC scope chain (same algorithm as
        evaluator.py _resolve_dynamic: bookended plain-name fragments search
        the scope outermost-first; everything else behaves like $ref)."""
        try:
            target, _ = self.registry.resolve_ref(ref, schema, "")
        except KeyError as exc:
            raise PlanCompileError(f"unresolvable $dynamicRef: {ref!r}") from exc
        frag = ref.split("#", 1)[1] if "#" in ref else ""
        if frag and not frag.startswith("/"):
            if isinstance(target, dict) and target.get("$dynamicAnchor") == frag:
                hit = self.registry.find_dynamic(frag, self._scope)
                if hit is not None:
                    return hit
        return target

    # ---------------------------------------------------------------- content

    def _compile_content(self, s: dict, val: _Val, add, parts, valids, present: Column) -> None:
        """Content vocabulary as assertions, lowered JVM-side for the
        built-in base64 + application/json handlers (try_to_binary /
        try_parse_json return NULL on malformed input); contentSchema runs
        through the Variant planner on the parsed value (reference:
        content.go evaluateContent)."""
        enc = s.get("contentEncoding")
        decoded: Column | None = None
        if isinstance(enc, str):
            if enc != "base64":
                add(F.lit(True), "contentEncoding", "unsupported_encoding", {"encoding": F.lit(enc)})
                return
            decoded = F.try_to_binary(val.col, F.lit("base64"))
            add(decoded.isNull(), "contentEncoding", "invalid_encoding", {"encoding": F.lit(enc)})
        mt = s.get("contentMediaType")
        if not isinstance(mt, str):
            return
        if mt != "application/json":
            add(F.lit(True), "contentMediaType", "unsupported_media_type", {"media_type": F.lit(mt)})
            return
        text = decoded.cast("string") if decoded is not None else val.col
        parsed = self._maybe_stage(F.try_parse_json(text), val)
        decode_ok = decoded.isNotNull() if decoded is not None else F.lit(True)
        add(decode_ok & parsed.isNull(), "contentMediaType", "invalid_media_type", {"media_type": F.lit(mt)})
        if "contentSchema" in s:
            from jsonschema_spark.plans.variant import (
                VariantCompileError,
                VariantPlanCompiler,
            )

            try:
                vp = VariantPlanCompiler(s["contentSchema"], assert_format=self.assert_format)
            except VariantCompileError as exc:
                raise PlanCompileError(f"contentSchema needs the UDF path: {exc}") from exc
            sub_v = self._maybe_stage(
                vp.violations_column(
                    parsed, val.path,
                    stages=self._stages if not val.in_lambda else None,
                ),
                val,
            )
            ok = _safe(parsed.isNotNull())
            parts.append(F.when(ok, sub_v).otherwise(_empty_violations()))
            mismatch = _safe(ok & (F.size(sub_v) > 0))
            parts.append(
                _cond_violation(mismatch, val.path, "contentSchema", "content_schema_mismatch")
            )
            valids.append(~mismatch)

    # -------------------------------------------------------------- assertions

    def _compile_assertions(self, s: dict, val: _Val, add, present: Column) -> None:
        dt = val.dtype

        if "type" in s:
            declared = s["type"] if isinstance(s["type"], list) else [s["type"]]
            actual = _spark_type_name(dt)
            ok = actual in declared or (actual == "integer" and "number" in declared)
            if not ok and not (actual == "number" and "integer" in declared):
                # statically wrong type: every present value violates
                add(
                    F.lit(True),
                    "type",
                    "type_mismatch",
                    {"received": F.lit(actual), "expected": F.lit(", ".join(map(str, declared)))},
                )
            elif actual == "number" and "integer" in declared and "number" not in declared:
                # dynamic integrality check on a float/double/decimal column
                add(
                    val.col.cast("double") != F.floor(val.col.cast("double")).cast("double"),
                    "type",
                    "type_mismatch",
                    {"received": F.lit("number"), "expected": F.lit("integer")},
                )

        if "enum" in s and isinstance(s["enum"], list):
            allowed = s["enum"]
            scalars = [a for a in allowed if isinstance(a, (str, int, float, bool)) or isinstance(a, Fraction)]
            if len(scalars) == len(allowed):
                lits = [_num_lit(a) if not isinstance(a, str) else F.lit(a) for a in allowed]
                add(
                    ~val.col.isin(*lits),
                    "enum",
                    "value_not_in_enum",
                    {
                        "received": val.col.cast("string"),
                        "expected": F.lit(", ".join(_num_str(a) if not isinstance(a, str) else a for a in allowed)),
                    },
                )
            else:
                raise PlanCompileError("composite enum values need the UDF path (dynamic residue)")

        if "const" in s:
            cv = s["const"]
            if cv is None:
                add(present, "const", "const_mismatch_null")  # only null passes
            elif isinstance(cv, (str, bool)):
                add(val.col != F.lit(cv), "const", "const_mismatch")
            elif isinstance(cv, (int, float, Fraction)):
                add(val.col != _num_lit(cv), "const", "const_mismatch")
            else:
                raise PlanCompileError("composite const needs the UDF path (dynamic residue)")

        if _is_number_type(dt):
            for kw, code, op in (
                ("minimum", "value_below_minimum", "lt"),
                ("maximum", "value_above_maximum", "gt"),
                ("exclusiveMinimum", "exclusive_minimum_mismatch", "le"),
                ("exclusiveMaximum", "exclusive_maximum_mismatch", "ge"),
            ):
                if kw in s and isinstance(s[kw], (int, float, Fraction)) and not isinstance(s[kw], bool):
                    bound = _num_lit(s[kw])
                    cond = {
                        "lt": val.col < bound,
                        "gt": val.col > bound,
                        "le": val.col <= bound,
                        "ge": val.col >= bound,
                    }[op]
                    pkey = {
                        "minimum": "minimum",
                        "maximum": "maximum",
                        "exclusiveMinimum": "exclusive_minimum",
                        "exclusiveMaximum": "exclusive_maximum",
                    }[kw]
                    add(cond, kw, code, {"value": val.col, pkey: F.lit(_num_str(s[kw]))})
            if "multipleOf" in s and isinstance(s["multipleOf"], (int, float, Fraction)) and not isinstance(s["multipleOf"], bool):
                div = s["multipleOf"]
                if isinstance(div, Fraction):
                    fdiv = div
                elif isinstance(div, float):
                    # a float divisor stands for its decimal literal (the
                    # reference parses JSON text to exact rationals; Python
                    # repr round-trips the shortest decimal form)
                    fdiv = Fraction(Decimal(repr(div)))
                else:
                    fdiv = Fraction(div)
                if fdiv <= 0:
                    add(F.lit(True), "multipleOf", "invalid_multiple_of", {"multiple_of": F.lit(_num_str(div))})
                elif _is_integer_type(dt) and fdiv.denominator == 1:
                    add(
                        (val.col % F.lit(int(fdiv))) != 0,
                        "multipleOf",
                        "not_multiple_of",
                        {"multiple_of": F.lit(_num_str(div))},
                    )
                elif isinstance(dt, T.DecimalType) and _decimal_multiple_plan(fdiv, dt) is not None:
                    # decimal column: native remainder at a common exact
                    # scale. When the divisor's scale fits the column's, we
                    # stay at the column's own precision/scale (p<=18 keeps
                    # the Long-backed fast path; casting to decimal(38,12)
                    # forfeits it and costs ~7x steady-state — measured).
                    # A finer divisor bumps BOTH operands to
                    # scale=max(col, divisor) with a bounded precision bump,
                    # so 0.125 against decimal(10,2) is not rounded to 0.13
                    # and 0.003 is not truncated to zero. If the bump would
                    # overflow precision 38 (or the divisor never
                    # terminates), _decimal_multiple_plan returns None and
                    # we fall through to the scaled-double path below.
                    cdt = _decimal_multiple_plan(fdiv, dt)
                    sd_div = _dec_scale(fdiv)
                    div_lit = F.lit(Decimal(int(fdiv * 10**sd_div)).scaleb(-sd_div))
                    add(
                        (val.col.cast(cdt) % div_lit.cast(cdt)) != F.lit(0).cast(cdt),
                        "multipleOf",
                        "not_multiple_of",
                        {"multiple_of": F.lit(_num_str(div))},
                    )
                else:
                    # float/double column, non-integer or mixed divisor.
                    # JSON divisors are terminating decimals: v is a multiple
                    # of d (scale sd) iff w = v*10^sd is an integer and
                    # w % (d*10^sd) == 0 — pure double+long arithmetic, exact
                    # for |w| < 2^53 (reference keeps big.Rat; Spark has no
                    # arbitrary-precision rational — SURVEY §4.2.6; a 1e-9
                    # relative guard absorbs the binary-vs-decimal ulp noise)
                    sd = _dec_scale(fdiv)
                    if sd is None or fdiv * 10**sd > 2**53:
                        # non-terminating or oversized divisor: no double is
                        # ever an exact multiple under decimal semantics
                        add(present, "multipleOf", "not_multiple_of", {"multiple_of": F.lit(_num_str(div))})
                    else:
                        m = int(fdiv * 10**sd)
                        w = val.col.cast("double") * F.lit(float(10**sd))
                        wr = F.round(w, 0)
                        small = F.abs(wr) < F.lit(float(2**53))
                        exact = (F.abs(w - wr) <= F.lit(1e-9) * F.greatest(F.abs(w), F.lit(1.0))) & (
                            wr.try_cast("bigint") % F.lit(m) == 0
                        )
                        # |w| >= 2^53: long arithmetic can't represent it —
                        # approximate pmod check (documented divergence from
                        # exact rationals, SURVEY 4.2.6)
                        approx = F.pmod(w, F.lit(float(m))) == 0.0
                        is_mult = F.when(small, exact).otherwise(approx)
                        add(~is_mult, "multipleOf", "not_multiple_of", {"multiple_of": F.lit(_num_str(div))})

        if isinstance(dt, T.StringType):
            if "minLength" in s:
                n = int(s["minLength"])
                add(
                    F.length(val.col) < n,
                    "minLength",
                    "string_too_short",
                    {"min_length": F.lit(n), "length": F.length(val.col)},
                )
            if "maxLength" in s:
                n = int(s["maxLength"])
                add(
                    F.length(val.col) > n,
                    "maxLength",
                    "string_too_long",
                    {"max_length": F.lit(n), "length": F.length(val.col)},
                )
            if "pattern" in s and isinstance(s["pattern"], str):
                # Java regex via rlike; plan compiler validated syntax upstream
                add(
                    ~val.col.rlike(s["pattern"]),
                    "pattern",
                    "pattern_mismatch",
                    {"pattern": F.lit(s["pattern"])},
                )
            if "format" in s and isinstance(s["format"], str) and self.assert_format:
                fmt = s["format"]
                rx = SPARK_REGEX_FORMATS.get(fmt)
                if rx is not None:
                    add(~val.col.rlike(rx), "format", "format_mismatch", {"format": F.lit(fmt)})
                # non-regex formats are UDF residue — handled by functions.udf

    # ----------------------------------------------------------------- objects

    def _compile_object(self, s: dict, val: _Val, parts, valids, present: Column, depth: int) -> None:
        dt: T.StructType = val.dtype  # type: ignore[assignment]
        fields = {f.name: f for f in dt.fields}

        if "required" in s and isinstance(s["required"], list):
            # ONE row, singular/plural by missing count, names joined in
            # required-list order (scalar core evaluator.py:556-566)
            conds: list[tuple[Column, Any]] = []
            for prop in s["required"]:
                if prop in fields:
                    miss = _safe(present & val.col[prop].isNull())
                else:
                    miss = present  # statically absent field: always missing
                conds.append((miss, prop))
                valids.append(~miss)
            parts.append(
                _summary_violation(
                    conds, val.path, "required",
                    "missing_required_property", "missing_required_properties",
                    sort_plural=False,
                )
            )

        if "dependentRequired" in s and isinstance(s["dependentRequired"], dict):
            # ONE row with every missing dependency joined (scalar core
            # evaluator.py:567-578)
            dr_conds: list[tuple[Column, str]] = []
            for prop, deps in s["dependentRequired"].items():
                if prop not in fields or not isinstance(deps, list):
                    continue
                have = val.col[prop].isNotNull()
                for dep in deps:
                    dep_missing = val.col[dep].isNull() if dep in fields else F.lit(True)
                    cond = _safe(present & have & dep_missing)
                    dr_conds.append((cond, dep))
                    valids.append(~cond)
            if dr_conds:
                any_cond = dr_conds[0][0]
                for c, _ in dr_conds[1:]:
                    any_cond = any_cond | c
                joined = F.concat_ws(
                    ", ", *[F.when(c, F.lit(d)) for c, d in dr_conds]
                )
                parts.append(
                    _cond_violation(
                        _safe(any_cond), val.path, "dependentRequired",
                        "dependent_property_required", {"missing_properties": joined},
                    )
                )

        if "minProperties" in s or "maxProperties" in s:
            # struct: count of non-null members (null ≡ absent convention)
            cnt = None
            for name in fields:
                c = val.col[name].isNotNull().cast("int")
                cnt = c if cnt is None else cnt + c
            cnt = cnt if cnt is not None else F.lit(0)
            if "minProperties" in s:
                n = int(s["minProperties"])
                cond = _safe(present & (cnt < n))
                parts.append(
                    _cond_violation(cond, val.path, "minProperties", "too_few_properties", {"min_properties": F.lit(n)})
                )
                valids.append(~cond)
            if "maxProperties" in s:
                n = int(s["maxProperties"])
                cond = _safe(present & (cnt > n))
                parts.append(
                    _cond_violation(cond, val.path, "maxProperties", "too_many_properties", {"max_properties": F.lit(n)})
                )
                valids.append(~cond)

        if "properties" in s and isinstance(s["properties"], dict):
            prop_conds: list[tuple[Column, Any]] = []
            for prop, branch in s["properties"].items():
                if prop not in fields:
                    continue  # statically absent → subschema never applies
                sub_val = _Val(
                    col=val.col[prop],
                    dtype=fields[prop].dataType,
                    path=F.concat(val.path, F.lit("/" + _escape_token(prop))),
                    in_lambda=val.in_lambda,
                )
                sub = self._compile(branch, sub_val, depth)
                if self._stages is not None and not val.in_lambda:
                    # evaluate each property's checks ONCE: the staged
                    # violations array feeds leafs, validity AND the summary
                    # condition (predicates otherwise re-evaluate per use —
                    # measured ~2x on a 4-property numeric schema)
                    viols = self._maybe_stage(sub.violations, val)
                    bad = _safe(present & (F.size(viols) > 0))
                    parts.append(viols)
                    valids.append(~bad)
                    prop_conds.append((bad, prop))
                else:
                    # in a HOF lambda (or without staging) the predicates
                    # re-evaluate for the summary condition; a let-binding
                    # via nested transform was tried and is SLOWER (HOFs are
                    # CodegenFallback — the extra interpreted transform per
                    # element costs more than duplicated codegen'd predicates)
                    parts.append(sub.violations)
                    valids.append(sub.valid)
                    prop_conds.append((_safe(present & ~sub.valid), prop))
            parts.append(
                _summary_violation(
                    prop_conds, val.path, "properties",
                    "property_mismatch", "properties_mismatch",
                )
            )

        # ---- statically-resolved name-keyed applicators (SURVEY §2.4): with
        # a fixed StructType the property-name set is known at plan time, so
        # patternProperties / propertyNames / additionalProperties /
        # unevaluatedProperties all reduce to per-field predicates
        import re as _re

        if "patternProperties" in s and isinstance(s["patternProperties"], dict):
            pp_conds: list[tuple[Column, Any]] = []
            for pat, branch in s["patternProperties"].items():
                rx = _re.compile(pat)
                for name, f in fields.items():
                    if not rx.search(name):
                        continue
                    sub_val = _Val(
                        col=val.col[name],
                        dtype=f.dataType,
                        path=F.concat(val.path, F.lit("/" + _escape_token(name))),
                        in_lambda=val.in_lambda,
                    )
                    sub = self._compile(branch, sub_val, depth)
                    parts.append(sub.violations)
                    valids.append(sub.valid)
                    pp_conds.append((_safe(present & ~sub.valid), name))
            parts.append(
                _summary_violation(
                    pp_conds, val.path, "patternProperties",
                    "pattern_property_mismatch", "pattern_properties_mismatch",
                    dedupe_plural=True,
                )
            )

        if "propertyNames" in s and isinstance(s["propertyNames"], (dict, bool)):
            # the names themselves are compile-time constants: evaluate each
            # against the subschema with the scalar core, once, on the driver
            from jsonschema_spark.compiler import Compiler

            name_schema = Compiler().set_assert_format(self.assert_format).compile(
                s["propertyNames"], validate_regex=False
            )
            pn_conds: list[tuple[Column, Any]] = []
            for name in fields:
                if name_schema.validate(name).valid:
                    continue
                cond = _safe(present & val.col[name].isNotNull())
                pn_conds.append((cond, name))
                valids.append(~cond)
            parts.append(
                _summary_violation(
                    pn_conds, val.path, "propertyNames",
                    "property_name_mismatch", "property_names_mismatch",
                )
            )

        if "additionalProperties" in s:
            declared = set(s.get("properties", {})) if isinstance(s.get("properties"), dict) else set()
            pats = [
                _re.compile(p)
                for p in (s.get("patternProperties") or {})
                if isinstance(s.get("patternProperties"), dict)
            ]
            extra = [
                n for n in fields
                if n not in declared and not any(rx.search(n) for rx in pats)
            ]
            self._apply_to_extra_fields(
                s["additionalProperties"], extra, fields, val, parts, valids, present,
                depth, "additionalProperties",
                "additional_property_mismatch", "additional_properties_mismatch",
            )

        # dependentSchemas is compiled once, in _compile_logical (matches the
        # scalar core's output shape incl. the summary dependent_schema_mismatch
        # row); compiling it here too double-emitted every sub-violation.

        if "unevaluatedProperties" in s:
            claimed, cond_claims = self._claimed_properties(s, fields, val, depth)
            extra = [n for n in fields if n not in claimed]
            self._apply_to_extra_fields(
                s["unevaluatedProperties"], extra, fields, val, parts, valids, present,
                depth, "unevaluatedProperties",
                "unevaluated_property_mismatch", "unevaluated_properties_mismatch",
                cond_claims=cond_claims,
            )

    def _apply_to_extra_fields(
        self, branch, names, fields, val, parts, valids, present, depth,
        keyword, code_single, code_plural, *, cond_claims=None,
    ) -> None:
        """Apply a subschema (or False) to fields outside the claimed set;
        cond_claims optionally gates a field as claimed at runtime (e.g. a
        succeeding anyOf branch that declares it). Emission mirrors the
        scalar core: per-field leaf violations at the child path (for False,
        a false_schema_mismatch leaf) plus ONE singular/plural summary row at
        this path (evaluator.py:629-649, 383-406)."""
        if branch is True or branch == {}:
            return
        conds: list[tuple[Column, Any]] = []
        for name in names:
            unclaimed = F.lit(True)
            if cond_claims and name in cond_claims:
                claim = cond_claims[name][0]
                for c in cond_claims[name][1:]:
                    claim = claim | c
                unclaimed = ~_safe(claim)
            field_present = val.col[name].isNotNull() & unclaimed
            child_path = F.concat(val.path, F.lit("/" + _escape_token(name)))
            if branch is False:
                cond = _safe(present & field_present)
                parts.append(
                    _cond_violation(cond, child_path, "schema", "false_schema_mismatch")
                )
            else:
                sub_val = _Val(
                    col=val.col[name],
                    dtype=fields[name].dataType,
                    path=child_path,
                    in_lambda=val.in_lambda,
                )
                sub = self._compile(branch, sub_val, depth + 1)
                cond = _safe(present & field_present & ~sub.valid)
                parts.append(
                    F.when(_safe(present & field_present), sub.violations).otherwise(
                        _empty_violations()
                    )
                )
            conds.append((cond, name))
            valids.append(~cond)
        parts.append(
            _summary_violation(conds, val.path, keyword, code_single, code_plural)
        )

    def _claimed_properties(self, s: dict, fields, val, depth) -> tuple[set, dict]:
        """(statically-claimed names, {name: [runtime claim conditions]}) for
        unevaluatedProperties over a fixed StructType. properties /
        patternProperties in this schema and in allOf children claim
        unconditionally; anyOf/oneOf/then/else branch claims are gated on the
        branch's validity expression (annotations flow only from succeeding
        branches — reference any_of.go:40-46, one_of.go:50-55,
        conditional.go annotations)."""
        import re as _re

        claimed: set = set()
        cond_claims: dict = {}

        def names_of(sub: Any) -> set:
            out = set()
            if isinstance(sub, dict):
                if isinstance(sub.get("properties"), dict):
                    out |= set(sub["properties"]) & set(fields)
                if isinstance(sub.get("patternProperties"), dict):
                    for p in sub["patternProperties"]:
                        rx = _re.compile(p)
                        out |= {n for n in fields if rx.search(n)}
                if "additionalProperties" in sub or "unevaluatedProperties" in sub:
                    # additionalProperties (and a NESTED unevaluatedProperties)
                    # evaluates every remaining key, so ALL fields count as
                    # evaluated for the outer unevaluatedProperties (scalar
                    # core marks them regardless of the verdict)
                    out |= set(fields)
                if "$ref" in sub and isinstance(sub["$ref"], str):
                    tgt, _ = self.registry.resolve_ref(sub["$ref"], sub, "")
                    out |= names_of(tgt)
                for b in sub.get("allOf") or []:
                    out |= names_of(b)
            return out

        # the schema's OWN unevaluatedProperties is the keyword being
        # compiled, not a claim source — strip it before the walk
        claimed |= names_of({k: v for k, v in s.items() if k != "unevaluatedProperties"})
        for kw in ("anyOf", "oneOf"):
            for b in s.get(kw) or []:
                branch_names = names_of(b)
                if not branch_names:
                    continue
                branch_valid = self._compile(b, val, depth + 1).valid
                for n in branch_names:
                    cond_claims.setdefault(n, []).append(branch_valid)
        if "if" in s:
            if_valid = self._compile(s["if"], val, depth + 1).valid
            for n in names_of(s["if"]) | names_of(s.get("then", {})):
                cond_claims.setdefault(n, []).append(if_valid)
            for n in names_of(s.get("else", {})):
                cond_claims.setdefault(n, []).append(~_safe(if_valid))
        return claimed, cond_claims

    # ------------------------------------------------------------------ arrays

    def _compile_array(self, s: dict, val: _Val, parts, valids, present: Column, depth: int) -> None:
        dt: T.ArrayType = val.dtype  # type: ignore[assignment]
        elem_dt = dt.elementType
        n = F.size(val.col)

        def add(cond: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            cond = _safe(present & cond)
            parts.append(_cond_violation(cond, val.path, keyword, code, params))
            valids.append(~cond)

        if "minItems" in s:
            k = int(s["minItems"])
            add(n < k, "minItems", "items_too_short", {"min_items": F.lit(k)})
        if "maxItems" in s:
            k = int(s["maxItems"])
            add(n > k, "maxItems", "items_too_long", {"max_items": F.lit(k)})
        if s.get("uniqueItems") is True:
            # hash-based distinct — Spark struct equality matches JSON equality
            # for fixed-schema elements (reference: unique_items.go hash+verify)
            add(
                F.size(F.array_distinct(val.col)) != n,
                "uniqueItems",
                "unique_items_mismatch",
                {"duplicates": F.lit("")},
            )

        prefix = s.get("prefixItems") if isinstance(s.get("prefixItems"), list) else []
        pi_conds: list[tuple[Column, Any]] = []
        for i, branch in enumerate(prefix):
            elem = F.element_at(val.col, i + 1)  # null when out of range
            sub_val = _Val(
                col=F.when(n > i, elem),  # treat out-of-range as absent
                dtype=elem_dt,
                path=F.concat(val.path, F.lit(f"/{i}")),
                in_lambda=val.in_lambda,
            )
            sub = self._compile(branch, sub_val, depth)
            parts.append(sub.violations)
            valids.append(sub.valid)
            pi_conds.append((_safe(present & ~sub.valid), i))
        parts.append(
            _summary_violation(
                pi_conds, val.path, "prefixItems",
                "prefix_item_mismatch", "prefix_items_mismatch",
                param_single="index", param_plural="indexs", sort_plural=False,
            )
        )

        if "items" in s and isinstance(s["items"], (dict, bool)):
            branch = s["items"]
            # per-element violations via transform → flatten (no shuffle)
            def _elem_violations(x: Column, i: Column) -> Column:
                sub_val = _Val(
                    col=x,
                    dtype=elem_dt,
                    path=F.concat(val.path, F.lit("/"), i.cast("string")),
                    in_lambda=True,
                )
                node = self._compile(branch, sub_val, depth)
                if prefix:
                    return F.when(i >= len(prefix), node.violations).otherwise(_empty_violations())
                return node.violations

            # ONE evaluation of the per-element schema (staged when possible);
            # leafs AND the scalar-parity summary row both derive from it
            pev = self._maybe_stage(F.transform(val.col, _elem_violations), val)
            parts.append(F.when(present, F.flatten(pev)).otherwise(_empty_violations()))
            bad_idx = F.filter(
                F.transform(pev, lambda a, i: F.when(F.size(a) > 0, i)),
                lambda x: x.isNotNull(),
            )
            parts.append(
                _dynamic_index_summary(
                    present, bad_idx, val.path, "items", "item_mismatch", "items_mismatch"
                )
            )
            valids.append(
                _safe(F.when(present, F.size(F.flatten(pev)) == 0).otherwise(F.lit(True))) | ~present
            )

        if "contains" in s:
            branch = s["contains"]

            def _match(x: Column) -> Column:
                sub_val = _Val(col=x, dtype=elem_dt, path=_lit_path(""), in_lambda=True)
                return self._compile(branch, sub_val, depth).valid

            matches = F.size(F.filter(val.col, _match))
            min_c = int(s.get("minContains", 1))
            max_c = s.get("maxContains")
            if min_c > 0:
                add(matches < min_c, "contains", "contains_too_few_items", {"min_contains": F.lit(min_c)})
            if max_c is not None:
                add(matches > int(max_c), "maxContains", "contains_too_many_items", {"max_contains": F.lit(int(max_c))})

        if "unevaluatedItems" in s and not isinstance(s.get("items"), (dict, bool)):
            # static resolution (SURVEY §2.3): with no `items`, evaluated
            # indexes are [0, len(prefixItems)) plus contains-matched elements
            branch = s["unevaluatedItems"]
            contains = s.get("contains")

            def _uneval_violations(x: Column, i: Column) -> Column:
                evaluated = i < len(prefix)
                if contains is not None:
                    c_val = _Val(col=x, dtype=elem_dt, path=_lit_path(""), in_lambda=True)
                    evaluated = evaluated | _safe(self._compile(contains, c_val, depth).valid)
                child_path = F.concat(val.path, F.lit("/"), i.cast("string"))
                if branch is False:
                    # scalar: False subschema yields a false_schema_mismatch
                    # LEAF at the child path (the summary row is separate)
                    v = _cond_violation(F.lit(True), child_path, "schema", "false_schema_mismatch")
                else:
                    sub_val = _Val(col=x, dtype=elem_dt, path=child_path, in_lambda=True)
                    v = self._compile(branch, sub_val, depth).violations
                return F.when(~evaluated, v).otherwise(_empty_violations())

            if branch is not True and branch != {}:
                pev = self._maybe_stage(F.transform(val.col, _uneval_violations), val)
                parts.append(F.when(present, F.flatten(pev)).otherwise(_empty_violations()))
                bad_idx = F.filter(
                    F.transform(pev, lambda a, i: F.when(F.size(a) > 0, i)),
                    lambda x: x.isNotNull(),
                )
                parts.append(
                    _dynamic_index_summary(
                        present, bad_idx, val.path, "unevaluatedItems",
                        "unevaluated_item_mismatch", "unevaluated_items_mismatch",
                    )
                )
                valids.append(
                    _safe(F.when(present, F.size(F.flatten(pev)) == 0).otherwise(F.lit(True))) | ~present
                )

    # -------------------------------------------------------------------- maps

    def _compile_map(self, s: dict, val: _Val, parts, valids, present: Column, depth: int) -> None:
        dt: T.MapType = val.dtype  # type: ignore[assignment]

        def add(cond: Column, keyword: str, code: str, params: dict[str, Column] | None = None) -> None:
            cond = _safe(present & cond)
            parts.append(_cond_violation(cond, val.path, keyword, code, params))
            valids.append(~cond)

        n = F.size(val.col)
        if "minProperties" in s:
            k = int(s["minProperties"])
            add(n < k, "minProperties", "too_few_properties", {"min_properties": F.lit(k)})
        if "maxProperties" in s:
            k = int(s["maxProperties"])
            add(n > k, "maxProperties", "too_many_properties", {"max_properties": F.lit(k)})
        if "required" in s and isinstance(s["required"], list):
            req_conds: list[tuple[Column, Any]] = []
            for prop in s["required"]:
                cond = _safe(present & ~F.array_contains(F.map_keys(val.col), prop))
                req_conds.append((cond, prop))
                valids.append(~cond)
            parts.append(
                _summary_violation(
                    req_conds, val.path, "required",
                    "missing_required_property", "missing_required_properties",
                    sort_plural=False,
                )
            )
        if "propertyNames" in s and isinstance(s["propertyNames"], dict):
            pn = s["propertyNames"]
            if "pattern" in pn:
                bad = F.filter(F.map_keys(val.col), lambda k: ~_safe(k.rlike(pn["pattern"])))
                nbad = F.size(bad)
                parts.append(
                    F.when(
                        _safe(present & (nbad == 1)),
                        F.array(_mk_violation(
                            val.path, "propertyNames", "property_name_mismatch",
                            {"property": F.element_at(bad, 1)},
                        )),
                    )
                    .when(
                        _safe(present & (nbad > 1)),
                        F.array(_mk_violation(
                            val.path, "propertyNames", "property_names_mismatch",
                            {"properties": F.array_join(F.array_sort(bad), ", ")},
                        )),
                    )
                    .otherwise(_empty_violations())
                )
                valids.append(~_safe(present & (nbad > 0)))

    # ----------------------------------------------------------------- logical

    def _compile_logical(self, s: dict, val: _Val, parts, valids, present: Column, depth: int) -> None:
        if "allOf" in s and isinstance(s["allOf"], list):
            subs = [self._compile(branch, val, depth) for branch in s["allOf"]]
            for sub in subs:
                valids.append(sub.valid)

            def _allof_summary(conds: list[tuple[Column, int]]) -> Column:
                # scalar core emits ONE all_of_item_mismatch with the failing
                # indices joined, regardless of count (evaluator.py:259-260)
                any_bad = conds[0][0]
                for c, _ in conds[1:]:
                    any_bad = any_bad | c
                joined = F.concat_ws(", ", *[F.when(c, F.lit(str(i))) for c, i in conds])
                return _cond_violation(
                    _safe(any_bad), val.path, "allOf", "all_of_item_mismatch",
                    {"indexs": joined},
                )

            if subs:
                for sub in subs:
                    parts.append(sub.violations)
                parts.append(
                    _allof_summary(
                        [(_safe(present & ~sub.valid), i) for i, sub in enumerate(subs)]
                    )
                )

        if "anyOf" in s and isinstance(s["anyOf"], list):
            branch_valid = [self._compile(b, val, depth).valid for b in s["anyOf"]]
            ok = branch_valid[0]
            for c in branch_valid[1:]:
                ok = ok | c
            cond = _safe(present & ~ok)
            parts.append(_cond_violation(cond, val.path, "anyOf", "any_of_item_mismatch"))
            valids.append(~cond)

        if "oneOf" in s and isinstance(s["oneOf"], list):
            branch_valid = [self._compile(b, val, depth).valid for b in s["oneOf"]]
            cnt = branch_valid[0].cast("int")
            for c in branch_valid[1:]:
                cnt = cnt + c.cast("int")
            none_cond = _safe(present & (cnt == 0))
            multi_cond = _safe(present & (cnt > 1))
            parts.append(_cond_violation(none_cond, val.path, "oneOf", "one_of_item_mismatch"))
            parts.append(
                _cond_violation(multi_cond, val.path, "oneOf", "one_of_multiple_matches", {"matches": cnt})
            )
            valids.append(_safe(cnt == 1) | ~present)

        if "not" in s:
            sub = self._compile(s["not"], val, depth)
            cond = _safe(present & sub.valid)
            parts.append(_cond_violation(cond, val.path, "not", "not_schema_mismatch"))
            valids.append(~cond)

        if "if" in s:
            cond_node = self._compile(s["if"], val, depth)
            if "then" in s:
                then_node = self._compile(s["then"], val, depth)
                taken = _safe(present & cond_node.valid)
                parts.append(F.when(taken, then_node.violations).otherwise(_empty_violations()))
                parts.append(
                    _cond_violation(taken & ~then_node.valid, val.path, "then", "if_then_mismatch")
                )
                valids.append(~taken | _safe(then_node.valid))
            if "else" in s:
                else_node = self._compile(s["else"], val, depth)
                taken = _safe(present & ~cond_node.valid)
                parts.append(F.when(taken, else_node.violations).otherwise(_empty_violations()))
                parts.append(
                    _cond_violation(taken & ~else_node.valid, val.path, "else", "if_else_mismatch")
                )
                valids.append(~taken | _safe(else_node.valid))

        if "dependentSchemas" in s and isinstance(s["dependentSchemas"], dict) and isinstance(val.dtype, T.StructType):
            fields = {f.name for f in val.dtype.fields}
            ds_conds: list[tuple[Column, Any]] = []
            for prop, branch in s["dependentSchemas"].items():
                if prop not in fields:
                    continue
                sub = self._compile(branch, val, depth)
                have = _safe(present & val.col[prop].isNotNull())
                parts.append(F.when(have, sub.violations).otherwise(_empty_violations()))
                ds_conds.append((_safe(have & ~sub.valid), prop))
                valids.append(~have | _safe(sub.valid))
            parts.append(
                _summary_violation(
                    ds_conds, val.path, "dependentSchemas",
                    "dependent_schema_mismatch", "dependent_schemas_mismatch",
                )
            )


_PLAN_CACHE = PlanCache()


def compiled_plan(
    spark,
    df_schema: T.StructType,
    schema: Any,
    *,
    assert_format: bool = True,
    assert_content: bool = False,
) -> tuple[Column, tuple[tuple[str, Column], ...]]:
    """(violations Column, stages) for rows of ``df_schema``, compiled ONCE
    per Spark application — like the reference's Compiler.Compile cache.

    Key: (applicationId, ``json.dumps(schema, sort_keys=True)``,
    ``df_schema.json()``, assert_format, assert_content); see plans/cache.py.
    The tree is built over the default column-name-anchored root, so it
    applies to any DataFrame with that schema. Attach ``stages`` with
    ``SparkPlanCompiler.attach_stages`` before selecting the Column; their
    names are fixed per entry, so drop them afterwards. A PlanCompileError
    is raised on every call, never cached."""

    def build():
        plan = SparkPlanCompiler(
            schema, assert_format=assert_format, assert_content=assert_content
        )
        stages: list[tuple[str, Column]] = []
        violations = plan.violations_column(df_schema, stages=stages)
        return violations, tuple(stages)

    key = (
        json.dumps(schema, sort_keys=True, default=str),
        df_schema.json(),
        assert_format,
        assert_content,
    )
    return _PLAN_CACHE.get_or_build(spark, key, build)


def _apply_plan(
    df: DataFrame,
    schema: Any,
    *,
    assert_format: bool,
    assert_content: bool,
    violations_col: str,
    valid_col: str,
) -> DataFrame:
    violations, stages = compiled_plan(
        df.sparkSession, df.schema, schema,
        assert_format=assert_format, assert_content=assert_content,
    )
    out = SparkPlanCompiler.attach_stages(df, stages)
    out = out.withColumn(violations_col, violations).withColumn(
        valid_col, F.size(F.col(violations_col)) == 0
    )
    return out.drop(*[n for n, _ in stages]) if stages else out


def validate_dataframe(
    df: DataFrame,
    schema: Any,
    *,
    violations_col: str = "violations",
    valid_col: str = "valid",
    assert_format: bool = True,
) -> DataFrame:
    """One-shot: attach violations + valid columns for a JSON Schema (the
    compile is shared per application, see ``compiled_plan``)."""
    return _apply_plan(
        df, schema, assert_format=assert_format, assert_content=False,
        violations_col=violations_col, valid_col=valid_col,
    )
