#!/usr/bin/env python
"""One timed validation-job run, designed for spark-submit:

    spark-submit --master local[8] --py-files dist/jsonschema_spark.zip \\
        scripts/run_validation_timed.py --input .../docs --media .../media \\
        --reference .../ref --output .../out --n-buckets 32

Prints ONE JSON line: {"cores", "docs", "elapsed_sec", "docs_per_sec", ...}.
The timer covers the job proper (bucket batches + finalize), not JVM boot —
cluster spin-up is not throughput.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--media", default=None)
    p.add_argument("--reference", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--buckets-per-job", type=int, default=32)
    p.add_argument("--salt-partitions", type=int, default=0)
    p.add_argument("--label", default="")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from jsonschema_spark.runner import JobConfig, ValidationJob, finalize_report, table_distributions
    from jsonschema_spark.synth import DOCS_SCHEMA

    cfg = JobConfig(
        input_path=args.input,
        output_path=args.output,
        schema=DOCS_SCHEMA,
        media_catalog_path=args.media,
        reference_path=args.reference,
        n_buckets=args.n_buckets,
        buckets_per_job=args.buckets_per_job,
        salt_partitions=args.salt_partitions,
    )

    # warm-up: run the real pipeline on ONE bucket into a throwaway dir so
    # JVM JIT + codegen of the actual expressions isn't billed to the run
    # (cluster warm-up isn't throughput; a range-sum doesn't warm these paths).
    # It also fills the application's typed-plan cache (compiled_plan), so
    # the timed job below reuses that plan and no longer pays the compile.
    import shutil

    warm_out = args.output + "_warmup"
    warm_cfg = JobConfig(**{**cfg.__dict__, "output_path": warm_out})
    ValidationJob(spark, warm_cfg).run_batch([0, 1])
    shutil.rmtree(warm_out, ignore_errors=True)

    t0 = time.perf_counter()
    ValidationJob(spark, cfg).run()
    kwargs = {}
    if args.reference:
        hist, kf = table_distributions(spark, args.reference)
        kwargs = {"reference_hist": hist, "reference_kind_freq": kf}
    report = finalize_report(spark, cfg, **kwargs)
    elapsed = time.perf_counter() - t0

    docs = report["total_docs"]
    print(
        json.dumps(
            {
                "label": args.label,
                "cores": cores,
                "docs": docs,
                "elapsed_sec": round(elapsed, 3),
                "docs_per_sec": round(docs / elapsed, 1),
                "partitions_failed": report["partitions_failed"],
                "ks": report.get("ks_span_length", {}).get("statistic"),
                "psi": report.get("psi_kind_freq", {}).get("statistic"),
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
