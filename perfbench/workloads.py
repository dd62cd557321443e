"""The benchmark workloads: each times one public entry point of the engine.

``run.py`` drives a workload in three steps: ``open`` the input and
``compile`` the validation plan (set-up, timed together with the first
pass), closed-loop ``run_pass`` calls, then ``check`` of the output against
a reference result that a different code path computed once per input.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import time
from statistics import median

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inputs import Inputs, rows_digest
from jsonschema_spark.compiler import Compiler
from jsonschema_spark.functions.udf import validate_json_column
from jsonschema_spark.plans.columns import validate_dataframe
from jsonschema_spark.runner import JobConfig, ValidationJob, finalize_report, table_distributions
from jsonschema_spark.synth import DOCS_SCHEMA
from probes import tree_cpu

VIOLATION_KEY = ["doc_id", "instance_path", "keyword", "code"]

# documents in the fixed sample the in-process evaluator probe validates
EVALUATOR_SAMPLE_DOCS = 400
# timed passes of a layer probe (see ``probe``)
PROBE_PASSES = 3


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sample(df: DataFrame, modulus: int) -> DataFrame:
    return df if modulus == 1 else df.filter(F.pmod(F.xxhash64("doc_id"), F.lit(modulus)) == 0)


def _violation_rows(out: DataFrame) -> DataFrame:
    return out.select("doc_id", F.explode("violations").alias("v")).select(
        "doc_id", "v.instance_path", "v.keyword", "v.code"
    )


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _json_text(docs: DataFrame) -> DataFrame:
    """(doc_id, json): each typed doc as the JSON text the json table holds."""
    return docs.select("doc_id", F.to_json(F.struct("doc_id", "spans")).alias("json"))


def residue_schema() -> dict:
    """DOCS_SCHEMA with the span schema written in the 2020-12 strict-extension
    idiom: a ``$ref`` beside ``unevaluatedProperties: false``. It accepts
    the same documents, but the variant fast path refuses a sibling
    ``$ref`` there, so ``validate_json_column`` falls back to the
    Arrow-batched scalar evaluator."""
    schema = copy.deepcopy(DOCS_SCHEMA)
    spans = schema["properties"]["spans"]
    schema["$defs"] = {"span": spans["items"]}
    spans["items"] = {"$ref": "#/$defs/span", "unevaluatedProperties": False}
    return schema


class Workload:
    name = ""
    n_docs = 0
    tables: list[str] = []
    schema: dict = DOCS_SCHEMA
    # outputs are checked on the docs with pmod(xxhash64(doc_id), m) == 0
    check_modulus = 1
    # untimed passes between the last set-up and the measured phase
    warmup_passes = 2
    # layer of the compile step and span name and layer of one pass
    compile_layer = ""
    pass_span = ""
    pass_layer = ""

    def __init__(self) -> None:
        self.spark: SparkSession | None = None
        self.inputs: Inputs | None = None
        self.out: DataFrame | None = None

    # -- once per input, in the preparation session
    def prepare(self, spark: SparkSession, inputs: Inputs) -> None:
        """Compute and cache the reference results ``check`` compares with."""

    # -- set-up
    def open(self, spark: SparkSession, inputs: Inputs) -> None:
        raise NotImplementedError

    def compile(self) -> None:
        raise NotImplementedError

    # -- timed
    def run_pass(self) -> int:
        """One closed-loop pass; returns the number of documents validated."""
        _noop(self.out)
        return self.inputs.n_docs

    def at_boundary(self) -> bool:
        """True when the measured phase may stop after the current pass."""
        return True

    def finish(self, tracer) -> None:
        """Close a completed unit of work (called when ``at_boundary``)."""

    # -- after the measured phase
    def check(self) -> list[str]:
        """Problems found in the output; empty when it is correct."""
        raise NotImplementedError

    def layer_metrics(self, tracer) -> dict[str, float]:
        """Per-layer metrics a traced run adds beyond pass and compile times."""
        return {}

    def close(self) -> None:
        """Remove what the workload wrote; called once, at the end of the run."""


class TypedDocs(Workload):
    """plans.columns.validate_dataframe over typed parquet (doc_id, spans)."""

    name = "typed_docs"
    n_docs = 16_000
    tables = ["docs"]
    check_modulus = 4
    compile_layer = pass_layer = "plans.columns"
    pass_span = "plans.columns.pass"

    def prepare(self, spark, inputs):
        def scalar_rows():
            # the scalar evaluator, forced through the Arrow UDF by passing
            # the schema as a JSON string
            df = _sample(_json_text(spark.read.parquet(inputs.path("docs"))), self.check_modulus)
            out = validate_json_column(df, "json", json.dumps(DOCS_SCHEMA), assert_format=True)
            return rows_digest(_violation_rows(out), VIOLATION_KEY)

        inputs.expected("scalar_rows", scalar_rows)

    def open(self, spark, inputs):
        self.spark, self.inputs = spark, inputs
        self.df = spark.read.parquet(inputs.path("docs"))

    def compile(self):
        self.out = validate_dataframe(self.df, self.schema)

    def check(self):
        want = self.inputs.expected("scalar_rows", None)
        got = rows_digest(_violation_rows(_sample(self.out, self.check_modulus)), VIOLATION_KEY)
        return [] if got == want else [f"violation rows {got} != scalar evaluator {want}"]


class JsonVariant(TypedDocs):
    """functions.udf.validate_json_column over the same docs as JSON text;
    DOCS_SCHEMA takes the plans.variant fast path (JVM-only parsing)."""

    name = "json_variant"
    n_docs = 3_200
    tables = ["docs", "json"]
    check_modulus = 1
    compile_layer = pass_layer = "plans.variant"
    pass_span = "plans.variant.pass"

    def open(self, spark, inputs):
        self.spark, self.inputs = spark, inputs
        self.df = spark.read.parquet(inputs.path("json"))

    def compile(self):
        self.out = validate_json_column(self.df, "json", self.schema)

    def layer_metrics(self, tracer):
        out = {"plans.variant.variant_get_count": _plan(self.out).count("variant_get(")}
        _compile_s, pass_s, worker_cpu_s = probe(JsonResidue(), self.spark, self.inputs, tracer)
        out["functions.udf.pass_s"] = pass_s
        out["functions.udf.pyworker_cpu_s"] = worker_cpu_s
        return out


class JsonResidue(JsonVariant):
    """The same entry point and text with residue_schema(): the plan becomes
    ArrowEvalPython running the scalar evaluator per document."""

    name = "json_residue"
    schema = residue_schema()
    compile_layer = pass_layer = "functions.udf"
    pass_span = "functions.udf.pass"

    def prepare(self, spark, inputs):
        def typed_invalid():
            out = validate_dataframe(spark.read.parquet(inputs.path("docs")), DOCS_SCHEMA)
            return rows_digest(out.filter(~F.col("valid")), ["doc_id"])

        inputs.expected("typed_invalid", typed_invalid)

    def check(self):
        if "ArrowEvalPython" not in _plan(self.out):
            return ["residue schema did not take the Arrow UDF path"]
        want = self.inputs.expected("typed_invalid", None)
        got = rows_digest(self.out.filter(~F.col("valid")), ["doc_id"])
        return [] if got == want else [f"invalid docs {got} != typed path {want}"]

    def layer_metrics(self, tracer):
        return {}


def probe(wl: Workload, spark: SparkSession, inputs: Inputs, tracer) -> tuple[float, float, float]:
    """Measures another workload's layer on this run's input: compile, one
    warm-up pass, PROBE_PASSES timed passes, then its check. Returns
    (compile seconds, median pass seconds, median Python-worker CPU
    seconds per pass); raises when the check fails."""
    wl.prepare(spark, inputs)
    wl.open(spark, inputs)
    with tracer.span(f"{wl.compile_layer}.compile", wl.compile_layer):
        t0 = time.perf_counter()
        wl.compile()
        compile_s = time.perf_counter() - t0
    with tracer.span(wl.pass_span, wl.pass_layer):
        wl.run_pass()
    pass_s, worker_cpu = [], []
    for _ in range(PROBE_PASSES):
        py0 = tree_cpu(os.getpid())[1]
        t0 = time.perf_counter()
        with tracer.span(wl.pass_span, wl.pass_layer):
            wl.run_pass()
        pass_s.append(time.perf_counter() - t0)
        worker_cpu.append(tree_cpu(os.getpid())[1] - py0)
    problems = wl.check()
    if problems:
        raise RuntimeError(f"{wl.name} probe: " + "; ".join(problems))
    return compile_s, median(pass_s), median(worker_cpu)


class BucketedJob(Workload):
    """runner.ValidationJob with the JobConfig defaults (64 buckets, 16 per
    batch), the media catalog and the clean reference twin. A pass is one
    ``run_batch``; a completed job runs table_distributions and
    finalize_report and is checked against plain Spark SQL aggregates.

    The first set-up starts a job; each later set-up resumes it in its fresh
    session, the way a restarted driver picks up the committed buckets. The
    warm-up pass finishes that job; the measured phase runs new jobs."""

    name = "bucketed_job"
    n_docs = 4_000
    # the last batch of the set-up job; the measured batches are a new job
    warmup_passes = 1
    tables = ["docs", "ref", "media"]
    compile_layer = "runner"
    pass_span = "runner.batch"
    pass_layer = "runner"

    def __init__(self, out_root: str):
        super().__init__()
        self.out_root = out_root
        self.jobs = 0
        self.cfg: JobConfig | None = None
        self.problems: list[str] = []
        self.finished: dict[str, list[float]] = {"distributions": [], "finalize": []}
        self.written = (0, 0)

    def prepare(self, spark, inputs):
        def aggregates():
            docs = spark.read.parquet(inputs.path("docs"))
            ref = spark.read.parquet(inputs.path("ref"))
            media = spark.read.parquet(inputs.path("media"))
            refs = docs.select(F.explode("spans.media_ref").alias("media_ref")).dropna()

            def seq(c):
                return F.to_json(F.transform(c, lambda s: F.struct(s["kind"], s["text"], s["media_ref"])))

            pairs = docs.select("doc_id", seq("spans").alias("a")).join(
                ref.select("doc_id", seq("spans").alias("b")), "doc_id"
            )
            buckets = docs.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(64)).alias("b")).count()
            return {
                "total_docs": docs.count(),
                "duplicate_doc_id": docs.groupBy("doc_id").count().filter("count > 1").count(),
                "dangling_media_ref": refs.join(media, "media_ref", "left_anti").count(),
                "span_sequence_mismatch": pairs.filter(~F.col("a").eqNullSafe(F.col("b"))).count(),
                "docs_per_bucket": {str(r["b"]): r["count"] for r in buckets.collect()},
            }

        inputs.expected("job", aggregates)

    def open(self, spark, inputs):
        self.spark, self.inputs = spark, inputs
        self.expect = inputs.expected("job", None)
        if self.cfg is None:
            self._new_job()
        else:
            self._resume()

    def _new_job(self):
        path = os.path.join(self.out_root, f"job{self.jobs}")
        self.jobs += 1
        shutil.rmtree(path, ignore_errors=True)
        self.cfg = JobConfig(
            input_path=self.inputs.path("docs"),
            output_path=path,
            schema=self.schema,
            media_catalog_path=self.inputs.path("media"),
            reference_path=self.inputs.path("ref"),
        )
        self._resume()

    def _resume(self):
        """(Re)attach the current job to this session; its pending buckets
        come from the lineage markers of the batches already committed."""
        self.job = ValidationJob(self.spark, self.cfg)
        pending = self.job.pending_buckets()
        step = self.cfg.buckets_per_job
        self.batches = [pending[i : i + step] for i in range(0, len(pending), step)]

    def compile(self):
        """The runner compiles inside every run_batch; nothing to do up front."""

    def run_pass(self):
        if not self.batches:
            self._new_job()
        batch = self.batches.pop(0)
        self.job.run_batch(batch)
        return sum(self.expect["docs_per_bucket"].get(str(b), 0) for b in batch)

    def at_boundary(self):
        return not self.batches

    def finish(self, tracer):
        with tracer.span("runner.distributions", "runner"):
            t0 = time.perf_counter()
            hist, kinds = table_distributions(self.spark, self.cfg.reference_path)
            self.finished["distributions"].append(time.perf_counter() - t0)
        with tracer.span("runner.finalize", "runner"):
            t0 = time.perf_counter()
            report = finalize_report(
                self.spark, self.cfg, reference_hist=hist, reference_kind_freq=kinds
            )
            self.finished["finalize"].append(time.perf_counter() - t0)
        files = size = 0
        for d, _s, names in os.walk(self.cfg.output_path):
            files += len(names)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in names)
        self.written = (files, size)
        with tracer.span("check"):
            self.problems += self._check_job(report)

    def _check_job(self, report: dict) -> list[str]:
        viol = self.spark.read.parquet(os.path.join(self.cfg.output_path, "violations"))
        counts = {r["code"]: r["count"] for r in viol.groupBy("code").count().collect()}
        got = {"total_docs": report["total_docs"]}
        for code in ("duplicate_doc_id", "dangling_media_ref", "span_sequence_mismatch"):
            got[code] = counts.get(code, 0)
        want = {k: self.expect[k] for k in got}
        return [] if got == want else [f"job {self.cfg.output_path}: {got} != SQL aggregates {want}"]

    def check(self):
        if self.batches or not self.finished["finalize"]:
            return ["job did not complete"]
        return self.problems

    def layer_metrics(self, tracer):
        compile_s, pass_s, _cpu = probe(TypedDocs(), self.spark, self.inputs, tracer)
        return {
            "plans.columns.compile_s": compile_s,
            "plans.columns.pass_s": pass_s,
            "runner.distributions_s": median(self.finished["distributions"]),
            "runner.finalize_s": median(self.finished["finalize"]),
            "runner.files_written": self.written[0],
            "runner.bytes_written_mb": self.written[1] / 2**20,
        }

    def close(self):
        shutil.rmtree(self.out_root, ignore_errors=True)


def evaluator_sample(spark: SparkSession, inputs: Inputs) -> list[str]:
    """A fixed sample (~EVALUATOR_SAMPLE_DOCS docs) of the input as JSON text."""

    def compute():
        df = spark.read.parquet(inputs.path("docs"))
        modulus = max(1, inputs.n_docs // EVALUATOR_SAMPLE_DOCS)
        text = F.to_json(F.struct("doc_id", "spans")).alias("json")
        return [r["json"] for r in _sample(df, modulus).select(text).collect()]

    return inputs.expected("evaluator_sample", compute)


def evaluator_probe(sample: list[str], min_s: float = 1.0) -> dict[str, float]:
    """compiler.compile_s and evaluator.docs_per_s_1core in this process,
    without Spark, for residue_schema() — the schema the Arrow-UDF path
    evaluates. Compiles the way the UDF does, then validates the fixed
    sample until ``min_s`` has passed."""
    text = json.dumps(residue_schema())
    compile_times = []
    for _ in range(5):
        t0 = time.perf_counter()
        compiled = Compiler().compile(text, validate_regex=False)
        compile_times.append(time.perf_counter() - t0)
    docs = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < min_s:
        for doc in sample:
            compiled.validate_json(doc)
        docs += len(sample)
    return {
        "compiler.compile_s": median(compile_times),
        "evaluator.docs_per_s_1core": docs / (time.perf_counter() - t0),
    }


WORKLOADS = {w.name: w for w in (TypedDocs, JsonVariant, JsonResidue, BucketedJob)}
