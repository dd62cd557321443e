"""Seeded workload inputs and their reference results, cached by seed and size.

Inputs come from ``jsonschema_spark.synth.make_docs_distributed``, so the
same seed always gives the same bytes. The JSON-text table is derived from
the typed docs table, so every path validates the same documents and their
outputs can be compared. Reference results are computed once per input by a
different code path than the one a workload times, and stored beside it.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonschema_spark.synth import SynthConfig, make_docs_distributed

# generator tasks; an input holds n_docs // CHUNKS * CHUNKS documents
CHUNKS = 4
# files per table: without a repartition the generator's round-robin
# placement can leave a file empty, and a scan then runs fewer tasks than cores
FILES = 4


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(path) for f in files
    )


def rows_digest(df: DataFrame, cols: list[str]) -> dict[str, Any]:
    """Order-independent digest of the multiset of rows projected on ``cols``:
    the row count and the sum of a 64-bit hash per row (decimal, so the sum
    cannot overflow)."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return {"rows": int(r["n"]), "digest": str(r["h"] or 0)}


class Inputs:
    """The tables of one (seed, n_docs) input under ``cache_dir``.

    Tables: ``docs`` (doc_id, spans), ``json`` (doc_id, json text of the
    same doc), ``ref`` (the clean reference twin), ``media`` (catalog)."""

    def __init__(self, cache_dir: str, seed: int, n_docs: int):
        self.seed = seed
        self.n_docs = n_docs // CHUNKS * CHUNKS
        self.dir = os.path.join(cache_dir, f"seed{seed}_n{self.n_docs}")

    def path(self, table: str) -> str:
        return os.path.join(self.dir, table)

    def _write(self, table: str, df: DataFrame) -> None:
        tmp = self.path(table) + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.repartition(FILES).write.parquet(tmp)
        os.replace(tmp, self.path(table))

    def ensure(self, spark: SparkSession, tables: list[str]) -> bool:
        """Generate the missing tables; True when anything was generated."""
        missing = [t for t in tables if not os.path.exists(self.path(t))]
        if not missing:
            return False
        os.makedirs(self.dir, exist_ok=True)
        docs, ref, media = make_docs_distributed(
            spark, SynthConfig(n_docs=self.n_docs, seed=self.seed), n_chunks=CHUNKS
        )
        if "docs" in missing:  # every workload's tables include docs
            self._write("docs", docs)
        if "ref" in missing:
            self._write("ref", ref)
        if "media" in missing:
            self._write("media", media)
        if "json" in missing:
            typed = spark.read.parquet(self.path("docs"))
            self._write(
                "json",
                typed.select("doc_id", F.to_json(F.struct("doc_id", "spans")).alias("json")),
            )
        return True

    def sizes(self, tables: list[str]) -> dict[str, int]:
        return {f"{t}_bytes": _dir_bytes(self.path(t)) for t in tables}

    def expected(self, key: str, compute: Callable[[], Any]) -> Any:
        """Reference result ``key`` for this input, computed on first use."""
        path = os.path.join(self.dir, "expected.json")
        cache = {}
        if os.path.exists(path):
            with open(path) as f:
                cache = json.load(f)
        if key not in cache:
            cache[key] = compute()
            with open(path + ".tmp", "w") as f:
                json.dump(cache, f, indent=1, sort_keys=True)
            os.replace(path + ".tmp", path)
        return cache[key]
