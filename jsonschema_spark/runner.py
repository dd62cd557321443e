"""Resumable, partition-granular validation job runner (north rule core).

The 10^12-doc job shape: the input is split into B logical buckets by
``pmod(xxhash64(doc_id), B)``. Bucketing on doc_id makes EVERY check
bucket-local:

- constraint evaluation is per-row (trivially bucket-local);
- doc_id uniqueness: all copies of a doc_id hash to the same bucket, so the
  duplicate groupBy never crosses buckets — no global shuffle, ever;
- referential integrity: broadcast anti-join against the media catalog;
- drift (KS/W1 on span-length, PSI/JS/chi2 on kind frequencies): per-bucket
  histograms, merged on the driver at finalize —
  histograms are mergeable, so the statistic over the union is exact;
- span-sequence equality vs the reference table: the reference side is
  filtered to the same bucket expression, so the equality join is co-local.

Each bucket batch commits atomically: data dirs first, then a single lineage
JSON file as the commit marker (rename-free single-file write — the parquet
analogue of an Iceberg snapshot commit; swap `_commit_lineage`/`_committed`
for an Iceberg catalog when the table format is available). A killed run
resumes by skipping buckets with lineage markers; outputs are idempotent
(per-bucket dirs are overwritten, never appended).

Compile once: the typed constraint plan (plans.columns) is compiled once per
Spark application, not once per batch. ``plans.columns.compiled_plan``
(whose docstring defines the key) caches the violations Column and its
stages under (SparkContext ``applicationId``, ``json.dumps(schema,
sort_keys=True)``, input ``StructType.json()``, ``assert_format``,
``assert_content``), FIFO-bounded at 32 entries. Every batch of every job in
the application with that schema and input shape reuses one Column tree;
only the stage projection and the bucket-specific DataFrames are rebuilt per
batch. A restarted SparkContext has a new applicationId and compiles anew.
Each lineage marker's ``batch_elapsed_sec`` times the whole batch: reads,
plan, persist, writes and the metrics collect.

Skew: media-heavy documents skew *span explosion*, not doc_id hashing — the
executor-level defense is a salted repartition on (doc_id, salt) inside each
batch so one hot input split can't pin a single task (north rule: "salted
repartition on doc_id hash"). AQE handles shuffle sizing beyond that.

Reference analogue: the per-partition pass/fail verdicts and violation rows
mirror kaptinlin/jsonschema's EvaluationResult outputs (result.go:187-298),
aggregated set-at-a-time instead of per-instance.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Single source of truth for the order-sensitive span digest lives with the
# span operators; the runner and the standalone operator must agree bit-for-bit.
from jsonschema_spark.operators.spans import span_sequence_digest as _seq_digest

__all__ = ["ValidationJob", "JobConfig", "run_job", "finalize_report"]

_SPAN_LEN_BUCKETS = 64  # fixed histogram grid => mergeable across buckets


@dataclass
class JobConfig:
    input_path: str
    output_path: str
    schema: dict[str, Any] = field(default_factory=dict)
    media_catalog_path: str | None = None
    reference_path: str | None = None  # clean twin table for drift + span equality
    doc_id_col: str = "doc_id"
    spans_col: str = "spans"
    n_buckets: int = 64
    buckets_per_job: int = 16
    salt_partitions: int = 0  # 0 => leave partitioning to AQE
    assert_format: bool = True
    max_violation_examples: int = 1000  # per bucket, cap the violations sample


def _bucket_expr(cfg: JobConfig):
    return F.pmod(F.xxhash64(F.col(cfg.doc_id_col)), F.lit(cfg.n_buckets))




class ValidationJob:
    def __init__(self, spark: SparkSession, cfg: JobConfig):
        self.spark = spark
        self.cfg = cfg
        os.makedirs(self._lineage_dir, exist_ok=True)

    # ------------------------------------------------------------ paths

    @property
    def _lineage_dir(self) -> str:
        return os.path.join(self.cfg.output_path, "lineage")

    def _violations_dir(self, bucket: int) -> str:
        return os.path.join(self.cfg.output_path, "violations", f"bucket={bucket}")

    def _metrics_dir(self, bucket: int) -> str:
        return os.path.join(self.cfg.output_path, "metrics", f"bucket={bucket}")

    def _lineage_file(self, bucket: int) -> str:
        return os.path.join(self._lineage_dir, f"bucket_{bucket}.json")

    # ------------------------------------------------------------ resume

    def committed_buckets(self) -> set[int]:
        out = set()
        for name in os.listdir(self._lineage_dir):
            if name.startswith("bucket_") and name.endswith(".json"):
                out.add(int(name[len("bucket_") : -len(".json")]))
        return out

    def pending_buckets(self) -> list[int]:
        done = self.committed_buckets()
        return [b for b in range(self.cfg.n_buckets) if b not in done]

    # ------------------------------------------------------------ core

    def _load_bucketed(self, path: str, buckets: list[int]) -> DataFrame:
        df = self.spark.read.parquet(path)
        # at warehouse scale this filter is partition pruning on an Iceberg
        # bucket-partitioned table; on raw parquet it is a post-scan filter
        return df.withColumn("_bucket", _bucket_expr(self.cfg)).filter(
            F.col("_bucket").isin(buckets)
        )

    def _validated(self, docs: DataFrame) -> DataFrame:
        from jsonschema_spark.plans.columns import SparkPlanCompiler, compiled_plan

        cfg = self.cfg
        if cfg.salt_partitions:
            # deterministic salt (retry-safe): hashing (doc_id, const) spreads
            # media-heavy rows uniformly regardless of input file clustering
            docs = docs.repartition(
                cfg.salt_partitions, F.xxhash64(F.col(cfg.doc_id_col), F.lit(7))
            )
        # compiled once per application (cache hit on every later batch and
        # job); only the stage projection is rebuilt per batch
        violations, stages = compiled_plan(
            self.spark, docs.drop("_bucket").schema, cfg.schema,
            assert_format=cfg.assert_format,
        )
        docs = SparkPlanCompiler.attach_stages(docs, stages)
        spans = F.col(cfg.spans_col)
        # ONE pass over the heavy spans arrays: derive every small column the
        # downstream branches need, then DROP the spans. The persisted batch
        # is then ~100B/row instead of the full span payload — building the
        # columnar cache of raw spans doubled batch cost (measured 25.5s vs
        # ~10s noop at 2M docs / 32 cores).
        return docs.select(
            cfg.doc_id_col,
            "_bucket",
            violations.alias("violations"),
            _seq_digest(spans).alias("_digest"),
            F.size(spans).alias("_span_len"),
            # (position, media_ref) pairs for referential JSON-pointer paths
            F.filter(
                F.transform(
                    spans,
                    lambda s, i: F.struct(i.alias("pos"), s["media_ref"].alias("media_ref")),
                ),
                lambda p: p["media_ref"].isNotNull(),
            ).alias("_media_refs"),
            F.transform(spans, lambda s: F.coalesce(s["kind"], F.lit("(null)"))).alias(
                "_kinds"
            ),
        ).withColumn("valid", F.size("violations") == 0)

    def _bucket_outputs(self, vdf: DataFrame, media: DataFrame | None, ref: DataFrame | None, buckets: list[int]):
        """violations rows + metrics rows for a batch, both carrying _bucket."""
        cfg = self.cfg
        id_col = F.col(cfg.doc_id_col)

        # --- constraint violations (flattened, reference ToList shape)
        schema_viol = vdf.filter(~F.col("valid")).select(
            id_col,
            "_bucket",
            F.explode("violations").alias("v"),
        ).select(
            cfg.doc_id_col,
            "_bucket",
            F.col("v.instance_path").alias("instance_path"),
            F.col("v.keyword").alias("keyword"),
            F.col("v.code").alias("code"),
            F.col("v.params").alias("params"),
        )

        # --- doc_id uniqueness (bucket-local by construction)
        dup_viol = (
            vdf.groupBy("_bucket", cfg.doc_id_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .select(
                cfg.doc_id_col,
                "_bucket",
                F.lit("").alias("instance_path"),
                F.lit("uniqueness").alias("keyword"),
                F.lit("duplicate_doc_id").alias("code"),
                F.create_map(F.lit("count"), F.col("n").cast("string")).alias("params"),
            )
        )

        # --- referential integrity: media_refs in spans must exist in catalog
        ref_viol = None
        if media is not None:
            refs = vdf.select(
                cfg.doc_id_col,
                "_bucket",
                F.explode("_media_refs").alias("mr"),
            ).select(
                cfg.doc_id_col, "_bucket", F.col("mr.pos").alias("pos"), F.col("mr.media_ref").alias("media_ref")
            )
            ref_viol = (
                refs.join(F.broadcast(media.select("media_ref")), "media_ref", "left_anti")
                .select(
                    cfg.doc_id_col,
                    "_bucket",
                    F.concat(F.lit("/spans/"), F.col("pos"), F.lit("/media_ref")).alias(
                        "instance_path"
                    ),
                    F.lit("referential").alias("keyword"),
                    F.lit("dangling_media_ref").alias("code"),
                    F.create_map(F.lit("media_ref"), F.col("media_ref")).alias("params"),
                )
            )

        # --- span-sequence equality vs reference (per-row invariant:
        #     kind, text, media_ref, order — BASELINE.json input_hint)
        seq_viol = None
        if ref is not None:
            # digests shuffle 16 bytes/row instead of full span arrays
            # (the arrays dominated the exchange — measured); see _seq_digest
            ref_spans = ref.select(
                F.col(cfg.doc_id_col), _seq_digest(F.col(cfg.spans_col)).alias("_ref_dig")
            )
            ours = vdf.select(
                cfg.doc_id_col, "_bucket", F.col("_digest").alias("_our_dig")
            )
            seq_viol = (
                ours.join(ref_spans, cfg.doc_id_col, "left")
                .filter(
                    # null-safe: a NULL docs-side digest vs a real reference
                    # digest must be reported, not dropped by 3VL
                    F.col("_ref_dig").isNull()
                    | ~F.col("_our_dig").eqNullSafe(F.col("_ref_dig"))
                )
                .select(
                    cfg.doc_id_col,
                    "_bucket",
                    F.lit("/spans").alias("instance_path"),
                    F.lit("span_sequence").alias("keyword"),
                    F.when(F.col("_ref_dig").isNull(), F.lit("doc_not_in_reference"))
                    .otherwise(F.lit("span_sequence_mismatch"))
                    .alias("code"),
                    F.expr("CAST(map() AS map<string,string>)").alias("params"),
                )
            )

        all_viol = schema_viol.unionByName(dup_viol)
        if ref_viol is not None:
            all_viol = all_viol.unionByName(ref_viol)
        if seq_viol is not None:
            all_viol = all_viol.unionByName(seq_viol)

        # --- per-bucket metrics: counts, HLL cardinality, span-length
        #     histogram (fixed grid => mergeable), kind frequencies
        span_lens = F.col("_span_len")
        # null spans => slot -1 (its own histogram cell); null kind => "(null)"
        # — defective rows must still aggregate, not kill the job
        hist_slot = F.coalesce(F.least(span_lens, F.lit(_SPAN_LEN_BUCKETS - 1)), F.lit(-1))
        metrics = vdf.groupBy("_bucket").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.col("valid").cast("long")).alias("valid_count"),
            F.approx_count_distinct(cfg.doc_id_col).alias("doc_id_hll"),
            F.sum(span_lens).alias("span_count"),
            F.min(span_lens).alias("min_spans"),
            F.max(span_lens).alias("max_spans"),
            F.avg(F.col(cfg.doc_id_col).isNull().cast("double")).alias("doc_id_null_rate"),
        )
        # histogram + kind frequency via explode-free aggregation
        hist = (
            vdf.select("_bucket", hist_slot.alias("slot"))
            .groupBy("_bucket", "slot")
            .count()
            .groupBy("_bucket")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("slot"), F.col("count")))
                ).alias("span_len_hist")
            )
        )
        kind_freq = (
            vdf.select("_bucket", F.explode("_kinds").alias("kind"))
            .groupBy("_bucket", "kind")
            .count()
            .groupBy("_bucket")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("kind"), F.col("count")))
                ).alias("kind_freq")
            )
        )
        metrics = metrics.join(hist, "_bucket", "left").join(kind_freq, "_bucket", "left")
        return all_viol, metrics

    # ------------------------------------------------------------ run

    def run_batch(self, buckets: list[int]) -> dict[str, Any]:
        cfg = self.cfg
        # the whole batch — reads, plan, persist, writes, collect — up to the
        # commit; lineage's batch_elapsed_sec and the returned elapsed
        t0 = time.perf_counter()
        docs = self._load_bucketed(cfg.input_path, buckets)
        media = (
            self.spark.read.parquet(cfg.media_catalog_path)
            if cfg.media_catalog_path
            else None
        )
        ref = None
        if cfg.reference_path:
            ref = self.spark.read.parquet(cfg.reference_path).withColumn(
                "_bucket", _bucket_expr(cfg)
            ).filter(F.col("_bucket").isin(buckets)).drop("_bucket")

        vdf = self._validated(docs).persist()
        try:
            viol, metrics = self._bucket_outputs(vdf, media, ref, buckets)
            # one writer per bucket dir: without this, every task holds a
            # dynamic-partition writer per bucket (tasks x buckets small
            # files + per-task sorts), which made the write IO-bound and
            # anti-scale with cores — measured 8s@8c -> 12.7s@32c
            viol.repartition(len(buckets), F.col("_bucket")).write.partitionBy(
                "_bucket"
            ).mode("overwrite").parquet(
                os.path.join(cfg.output_path, "violations_staging")
            )
            metrics.write.partitionBy("_bucket").mode("overwrite").parquet(
                os.path.join(cfg.output_path, "metrics_staging")
            )
            doc_counts = {
                r["_bucket"]: (r["doc_count"], r["valid_count"])
                for r in metrics.select("_bucket", "doc_count", "valid_count").collect()
            }
        finally:
            vdf.unpersist()
        elapsed = time.perf_counter() - t0

        # promote staging dirs bucket-by-bucket, then stamp lineage (the
        # lineage file is the commit point — crash before it => bucket re-runs)
        for b in buckets:
            for kind in ("violations", "metrics"):
                src = os.path.join(cfg.output_path, f"{kind}_staging", f"_bucket={b}")
                dst = os.path.join(cfg.output_path, kind, f"bucket={b}")
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if os.path.exists(src):
                    shutil.move(src, dst)
                else:
                    os.makedirs(dst, exist_ok=True)  # empty bucket
            n_docs, n_valid = doc_counts.get(b, (0, 0))
            lineage = {
                "bucket": b,
                "doc_count": int(n_docs),
                "valid_count": int(n_valid or 0),
                "committed_at": time.time(),
                "input_path": cfg.input_path,
                "batch_elapsed_sec": round(elapsed, 3),
            }
            tmp = self._lineage_file(b) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(lineage, f)
            os.replace(tmp, self._lineage_file(b))
        return {"buckets": buckets, "elapsed": elapsed}

    def run(self, *, max_batches: int | None = None) -> dict[str, Any]:
        pending = self.pending_buckets()
        batches = [
            pending[i : i + self.cfg.buckets_per_job]
            for i in range(0, len(pending), self.cfg.buckets_per_job)
        ]
        if max_batches is not None:
            batches = batches[:max_batches]
        results = []
        for batch in batches:
            results.append(self.run_batch(batch))
        for kind in ("violations_staging", "metrics_staging"):
            p = os.path.join(self.cfg.output_path, kind)
            if os.path.exists(p):
                shutil.rmtree(p)
        return {
            "batches_run": len(results),
            "buckets_committed": len(self.committed_buckets()),
            "n_buckets": self.cfg.n_buckets,
            "complete": len(self.pending_buckets()) == 0,
        }


# ---------------------------------------------------------------- finalize


def _ks_from_hists(h_a: dict[int, int], h_b: dict[int, int]) -> float:
    """Exact KS statistic on the fixed bucket grid (driver-side, tiny)."""
    tot_a = sum(h_a.values()) or 1
    tot_b = sum(h_b.values()) or 1
    cum_a = cum_b = 0.0
    ks = 0.0
    for slot in range(_SPAN_LEN_BUCKETS):
        cum_a += h_a.get(slot, 0) / tot_a
        cum_b += h_b.get(slot, 0) / tot_b
        ks = max(ks, abs(cum_a - cum_b))
    return ks


def _psi(p: dict[str, int], q: dict[str, int], eps: float = 1e-6) -> float:
    import math

    tot_p = sum(p.values()) or 1
    tot_q = sum(q.values()) or 1
    keys = set(p) | set(q)
    out = 0.0
    for k in keys:
        pp = max(p.get(k, 0) / tot_p, eps)
        qq = max(q.get(k, 0) / tot_q, eps)
        out += (pp - qq) * math.log(pp / qq)
    return out


def _w1_from_hists(h_a: dict[int, int], h_b: dict[int, int]) -> float:
    """1-Wasserstein on the fixed slot grid: Σ |ΔCDF| per slot — the CDF gap
    integrated in span-length units (bucket width is one span)."""
    tot_a = sum(h_a.values()) or 1
    tot_b = sum(h_b.values()) or 1
    cum_a = cum_b = 0.0
    w1 = 0.0
    for slot in range(_SPAN_LEN_BUCKETS):
        cum_a += h_a.get(slot, 0) / tot_a
        cum_b += h_b.get(slot, 0) / tot_b
        w1 += abs(cum_a - cum_b)
    return w1


def _js(p: dict[str, int], q: dict[str, int], eps: float = 1e-6) -> float:
    """Jensen–Shannon divergence (natural log; bounded by ln 2) — stays
    meaningful when the observed stream introduces kinds the reference
    never had, where PSI's magnitude is set by the epsilon floor."""
    import math

    tot_p = sum(p.values()) or 1
    tot_q = sum(q.values()) or 1
    out = 0.0
    for k in set(p) | set(q):
        pp = max(p.get(k, 0) / tot_p, eps)
        qq = max(q.get(k, 0) / tot_q, eps)
        m = (pp + qq) / 2
        out += 0.5 * pp * math.log(pp / m) + 0.5 * qq * math.log(qq / m)
    return out


def _chi2(p: dict[str, int], q: dict[str, int]) -> tuple[float, int]:
    """Two-sample chi-square homogeneity statistic over the kind table and
    its degrees of freedom (categories − 1) — gives the report a statistic
    with a known null distribution for p-value-based alerting."""
    keys = [k for k in set(p) | set(q) if p.get(k, 0) + q.get(k, 0) > 0]
    tot_p = sum(p.get(k, 0) for k in keys)
    tot_q = sum(q.get(k, 0) for k in keys)
    n = tot_p + tot_q
    if n == 0 or tot_p == 0 or tot_q == 0 or len(keys) < 2:
        return 0.0, max(len(keys) - 1, 0)
    stat = 0.0
    for k in keys:
        rt = p.get(k, 0) + q.get(k, 0)
        ep = rt * tot_p / n
        eq = rt * tot_q / n
        stat += (p.get(k, 0) - ep) ** 2 / ep + (q.get(k, 0) - eq) ** 2 / eq
    return stat, len(keys) - 1


def table_distributions(
    spark: SparkSession, path: str, *, spans_col: str = "spans"
) -> tuple[dict[int, int], dict[str, int]]:
    """(span-length histogram, kind frequencies) of a docs table — the
    reference distribution inputs for KS/PSI drift checks."""
    df = spark.read.parquet(path)
    slot = F.least(F.size(spans_col), F.lit(_SPAN_LEN_BUCKETS - 1)).alias("slot")
    hist = {
        int(r["slot"]): r["count"] for r in df.select(slot).groupBy("slot").count().collect()
    }
    kf = {
        r["kind"]: r["count"]
        for r in df.select(F.explode(F.col(f"{spans_col}.kind")).alias("kind"))
        .groupBy("kind")
        .count()
        .collect()
    }
    return hist, kf


def finalize_report(
    spark: SparkSession,
    cfg: JobConfig,
    *,
    reference_hist: dict[int, int] | None = None,
    reference_kind_freq: dict[str, int] | None = None,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    w1_threshold: float = 2.0,
    js_threshold: float = 0.1,
) -> dict[str, Any]:
    """Merge per-bucket metrics into the job report: per-partition verdicts,
    global drift statistics, violation counts. Pure driver-side merge of
    mergeable aggregates — no second pass over the data."""
    job = ValidationJob(spark, cfg)
    if job.pending_buckets():
        raise RuntimeError(f"job incomplete: {len(job.pending_buckets())} buckets pending")
    metrics = spark.read.parquet(os.path.join(cfg.output_path, "metrics")).collect()

    per_partition = {}
    merged_hist: dict[int, int] = {}
    merged_kinds: dict[str, int] = {}
    total_docs = total_valid = 0
    for r in metrics:
        b = r["bucket"] if "bucket" in r.__fields__ else r["_bucket"]
        per_partition[int(b)] = {
            "doc_count": r["doc_count"],
            "valid_count": r["valid_count"],
            "passed": r["valid_count"] == r["doc_count"],
            "doc_id_hll": r["doc_id_hll"],
        }
        total_docs += r["doc_count"]
        total_valid += r["valid_count"]
        for k, v in (r["span_len_hist"] or {}).items():
            merged_hist[int(k)] = merged_hist.get(int(k), 0) + v
        for k, v in (r["kind_freq"] or {}).items():
            merged_kinds[k] = merged_kinds.get(k, 0) + v

    report: dict[str, Any] = {
        "total_docs": total_docs,
        "total_valid": total_valid,
        "partitions": per_partition,
        "partitions_passed": sum(1 for p in per_partition.values() if p["passed"]),
        "partitions_failed": sum(1 for p in per_partition.values() if not p["passed"]),
    }
    if reference_hist is not None:
        ks = _ks_from_hists(merged_hist, reference_hist)
        report["ks_span_length"] = {"statistic": ks, "threshold": ks_threshold, "drifted": ks > ks_threshold}
        w1 = _w1_from_hists(merged_hist, reference_hist)
        report["w1_span_length"] = {
            "statistic": w1,
            "threshold": w1_threshold,
            "drifted": w1 > w1_threshold,
        }
    if reference_kind_freq is not None:
        psi = _psi(merged_kinds, reference_kind_freq)
        report["psi_kind_freq"] = {"statistic": psi, "threshold": psi_threshold, "drifted": psi > psi_threshold}
        js = _js(merged_kinds, reference_kind_freq)
        report["js_kind_freq"] = {
            "statistic": js,
            "threshold": js_threshold,
            "drifted": js > js_threshold,
        }
        chi2, dof = _chi2(merged_kinds, reference_kind_freq)
        report["chi2_kind_freq"] = {"statistic": chi2, "dof": dof}

    out = os.path.join(cfg.output_path, "report.json")
    with open(out + ".tmp", "w") as f:
        json.dump(report, f, indent=2, default=str)
    os.replace(out + ".tmp", out)
    return report


def run_job(spark: SparkSession, cfg: JobConfig, **finalize_kwargs) -> dict[str, Any]:
    job = ValidationJob(spark, cfg)
    job.run()
    return finalize_report(spark, cfg, **finalize_kwargs)


def _main() -> None:
    """spark-submit entry:

        spark-submit --py-files jsonschema_spark.zip -m jsonschema_spark.runner \\
            --input .../docs --output .../out --schema schema.json \\
            --media-catalog .../media --reference .../ref --n-buckets 4096

    Resumable by construction: re-submitting the same command after a kill
    continues from the last committed bucket.
    """
    import argparse

    p = argparse.ArgumentParser(description="jsonschema_spark validation job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--schema", required=True, help="path to JSON Schema file")
    p.add_argument("--media-catalog", default=None)
    p.add_argument("--reference", default=None)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--buckets-per-job", type=int, default=16)
    p.add_argument("--salt-partitions", type=int, default=0)
    p.add_argument("--no-assert-format", action="store_true")
    args = p.parse_args()

    with open(args.schema) as f:
        schema = json.load(f)
    from jsonschema_spark.session import apply_engine_confs

    spark = apply_engine_confs(
        SparkSession.builder.appName("jsonschema-spark-validate")
    ).getOrCreate()
    cfg = JobConfig(
        input_path=args.input,
        output_path=args.output,
        schema=schema,
        media_catalog_path=args.media_catalog,
        reference_path=args.reference,
        n_buckets=args.n_buckets,
        buckets_per_job=args.buckets_per_job,
        salt_partitions=args.salt_partitions,
        assert_format=not args.no_assert_format,
    )
    kwargs = {}
    if args.reference:
        hist, kf = table_distributions(spark, args.reference)
        kwargs = {"reference_hist": hist, "reference_kind_freq": kf}
    report = run_job(spark, cfg, **kwargs)
    print(json.dumps({k: v for k, v in report.items() if k != "partitions"}, default=str))


if __name__ == "__main__":
    _main()
