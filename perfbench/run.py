#!/usr/bin/env python3
"""Validation-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload json_variant --seed 1 --seconds 6 --trace 0

Run from the root of a repository checkout. The last line of standard
output is one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a JSON detail record (quartiles,
sample counts, input sizes, host probes). Everything the run writes goes
under ``.bench_build/perfbench`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import shutil
import sys
import time
from statistics import median, quantiles

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# Set-ups per run (fresh SparkSession, input open, compile, first pass);
# setup_s is their median.
SETUPS = 3
# fewest timed passes a run reports, however long a pass takes
MIN_PASSES = 3


def _metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# Defined in the script run as __main__, so Spark pickles it by value and the
# workers need nothing but the zip to run it.
def _worker_import(_):
    import jsonschema_spark

    return jsonschema_spark.__file__


def _isolate_environment() -> None:
    """Keep every file the run and its children write inside BUILD, and make
    the Python workers import the engine only from the shipped zip."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # no cwd on the workers' sys.path: the checkout root must not stand in
    # for the --py-files zip
    os.environ["PYTHONSAFEPATH"] = "1"


def _build_pyfiles() -> str:
    """The --py-files zip, built by the repository's own scripts/make_pyfiles.py."""
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(ROOT, "scripts", "make_pyfiles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build(os.path.join(BUILD, "jsonschema_spark.zip"))


def _session(cores: int, pyfiles: str, extra: dict[str, str]):
    from pyspark.sql import SparkSession

    from jsonschema_spark.session import apply_engine_confs

    builder = (
        apply_engine_confs(SparkSession.builder.master(f"local[{cores}]"))
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", "-Xms2g -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(BUILD, "warehouse"))
        .config("spark.submit.pyFiles", pyfiles)
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown_jvm() -> None:
    """Stop the SparkContext and the JVM this process launched, and wait for
    the JVM to exit (its Python workers end with the context)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _emit(detail: dict, correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )


def _quartiles(xs: list[float]) -> list[float]:
    return quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def main() -> int:
    try:
        return _run()
    finally:
        if "pyspark" in sys.modules:
            _shutdown_jvm()


def _run() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "jsonschema_spark")) or not os.path.isfile(
        os.path.join(ROOT, "scripts", "make_pyfiles.py")
    ):
        print(f"perfbench: no jsonschema_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    _isolate_environment()
    sys.path.insert(0, ROOT)

    from probes import RssSampler, box_probe, tree_cpu
    from tracing import Tracer, event_log_confs, task_metrics

    from inputs import Inputs
    from workloads import WORKLOADS, BucketedJob, evaluator_probe, evaluator_sample

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    cls = WORKLOADS[args.workload]
    wl = cls(os.path.join(BUILD, "out", run_id)) if cls is BucketedJob else cls()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    me = os.getpid()
    detail: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "seconds": args.seconds,
        "trace": args.trace,
        "box_probe_start": box_probe(),
    }
    attempted = failed = 0
    problems: list[str] = []

    with RssSampler(me) as rss:
        # -- preparation: JVM boot, worker import check, inputs, references
        t0 = time.perf_counter()
        pyfiles = _build_pyfiles()
        spark = _session(cores, pyfiles, {})
        detail["jvm_boot_s"] = time.perf_counter() - t0
        attempted += 1
        try:
            locs = spark.sparkContext.parallelize(range(cores), cores).map(_worker_import).collect()
            detail["worker_import"] = sorted(set(locs))
        except Exception as exc:  # a worker-side ImportError arrives wrapped by py4j
            failed += 1
            found = re.search(r"(ModuleNotFoundError|ImportError): [^\n]*", str(exc))
            reason = found.group(0) if found else repr(exc)[:500]
            print(
                f"perfbench: Python workers cannot import jsonschema_spark from {pyfiles}: {reason}",
                file=sys.stderr,
            )
            _emit(detail, False, attempted, failed, {})
            return 1
        inputs = Inputs(os.path.join(BUILD, "inputs"), args.seed, wl.n_docs)
        t0 = time.perf_counter()
        detail["inputs_generated"] = inputs.ensure(spark, wl.tables)
        t1 = time.perf_counter()
        wl.prepare(spark, inputs)
        detail["generate_s"] = t1 - t0
        detail["reference_s"] = time.perf_counter() - t1
        detail["input"] = {"docs": inputs.n_docs, **inputs.sizes(wl.tables)}
        spark.stop()

        # -- set-up, SETUPS times, each in a fresh SparkSession
        log_dir = os.path.join(BUILD, "eventlog", run_id)
        confs = event_log_confs(log_dir) if args.trace else {}
        setup_s: list[float] = []
        compile_s: list[float] = []
        session_s: list[float] = []
        with tracer.span("run"):
            try:
                for k in range(SETUPS):
                    with tracer.span("setup"):
                        t0 = time.perf_counter()
                        with tracer.span("session.start", "session"):
                            spark = _session(cores, pyfiles, confs)
                        t1 = time.perf_counter()
                        with tracer.span("input.open", "spark"):
                            wl.open(spark, inputs)
                        t2 = time.perf_counter()
                        with tracer.span(f"{wl.compile_layer}.compile", wl.compile_layer):
                            wl.compile()
                        t3 = time.perf_counter()
                        attempted += 1
                        with tracer.span(wl.pass_span, wl.pass_layer):
                            wl.run_pass()
                        setup_s.append(time.perf_counter() - t0)
                        session_s.append(t1 - t0)
                        compile_s.append(t3 - t2)
                    if k < SETUPS - 1:
                        spark.stop()
                # untimed passes so the JIT has compiled the hot generated
                # code before timing starts
                for _ in range(wl.warmup_passes):
                    attempted += 1
                    with tracer.span("warmup", wl.pass_layer):
                        wl.run_pass()
                    if wl.at_boundary():
                        wl.finish(tracer)
            except Exception as exc:
                failed += 1
                print(f"perfbench: set-up failed: {exc!r}", file=sys.stderr)
                _emit(detail, False, attempted, failed, {})
                return 1

            # -- measured phase: closed loop until --seconds have passed
            pass_s: list[float] = []
            rates: list[float] = []
            docs_done = 0
            rss.reset()
            cpu0, py0 = tree_cpu(me)
            start = time.perf_counter()
            with tracer.span("measure"):
                while True:
                    attempted += 1
                    t0 = time.perf_counter()
                    try:
                        with tracer.span(wl.pass_span, wl.pass_layer):
                            docs = wl.run_pass()
                    except Exception as exc:
                        failed += 1
                        problems.append(f"pass failed: {exc!r}")
                        if failed > 3:
                            break
                        continue
                    dt = time.perf_counter() - t0
                    pass_s.append(dt)
                    rates.append(docs / dt)
                    docs_done += docs
                    boundary = wl.at_boundary()
                    if boundary:
                        cpu_pause, py_pause = tree_cpu(me)
                        try:
                            wl.finish(tracer)
                        except Exception as exc:
                            failed += 1
                            problems.append(f"finishing failed: {exc!r}")
                        cpu_resume, py_resume = tree_cpu(me)
                        cpu0 += cpu_resume - cpu_pause
                        py0 += py_resume - py_pause
                    if (
                        boundary
                        and time.perf_counter() - start >= args.seconds
                        and len(pass_s) >= MIN_PASSES
                    ):
                        break
            cpu1, py1 = tree_cpu(me)
            peak_rss = rss.peak_mb
            detail["peak_rss_by_process_mb"] = rss.peak_by_comm_mb
            measured_s = time.perf_counter() - start

            with tracer.span("check"):
                attempted += 1
                try:
                    check_problems = wl.check()
                except Exception as exc:
                    check_problems = [f"check raised: {exc!r}"]
                if check_problems:
                    failed += 1
                    problems += check_problems

            layer = {}
            if args.trace:
                attempted += 1
                try:
                    layer = wl.layer_metrics(tracer)
                except Exception as exc:
                    failed += 1
                    problems.append(f"layer probe failed: {exc!r}")
                layer.update(evaluator_probe(evaluator_sample(spark, inputs)))
        wl.close()
        spark.stop()  # also completes the event log of a traced run

    if not rates:
        problems.append("no pass completed")
        print("perfbench: " + "; ".join(problems), file=sys.stderr)
        _emit(detail, False, attempted, max(failed, 1), {})
        return 1
    q = _quartiles(rates)
    docs_per_s = median(rates)
    detail.update(
        {
            "docs_per_s": {"median": docs_per_s, "p25": q[0], "p75": q[2], "samples": len(rates)},
            "pass_s": pass_s,
            "setup_s_all": setup_s,
            "measured_s": measured_s,
            "docs_measured": docs_done,
            "box_probe_end": box_probe(),
            "wall_s": time.perf_counter() - T_START,
            "problems": problems,
        }
    )
    correct = failed == 0
    if problems:
        print("perfbench: " + "; ".join(problems), file=sys.stderr)

    if not args.trace:
        values = {
            "docs_per_s": docs_per_s,
            "setup_s": median(setup_s),
            "cpu_s_per_mdoc": (cpu1 - cpu0) / docs_done * 1e6,
            "peak_rss_mb": peak_rss,
            "ops_ok_frac": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in _metric_units("end_to_end").items()}
        _emit(detail, correct, attempted, failed, metrics)
        return 0 if correct else 1

    per_layer = _metric_units("per_layer")
    values = dict.fromkeys(per_layer, 0.0)
    values["session.start_s"] = median(session_s)
    values[f"{wl.compile_layer}.compile_s"] = median(compile_s)
    values[f"{wl.pass_span}_s"] = median(pass_s)
    if cls is BucketedJob:
        values["runner.batches"] = SETUPS + wl.warmup_passes + len(pass_s)
    values["functions.udf.pyworker_cpu_s"] = (py1 - py0) / len(pass_s)
    values.update(layer)
    values.update(task_metrics(log_dir))
    values.update({f"self_s.{k}": v for k, v in tracer.self_times().items()})
    values["trace.docs_per_s"] = docs_per_s
    tracer.write(os.path.join(BUILD, "traces", run_id + ".json"))
    shutil.rmtree(log_dir, ignore_errors=True)
    metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer.items()}
    _emit(detail, correct, attempted, failed, metrics)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
