import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from jsonschema_spark.session import apply_engine_confs

    spark = (
        apply_engine_confs(SparkSession.builder.master("local[4]"))
        .appName("jsonschema_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # 8g: the suite is ~750 tests in ONE JVM (~6k stages); at 4g the
        # accumulated codegen/plan/broadcast state OOMed the tail of the run
        # while every file passed in isolation (observed round 4, session 4)
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def plan_compiles(monkeypatch):
    """Empty typed-plan cache + a count of SparkPlanCompiler compiles."""
    from jsonschema_spark.plans import columns
    from jsonschema_spark.plans.cache import PlanCache

    monkeypatch.setattr(columns, "_PLAN_CACHE", PlanCache())
    calls = []
    real = columns.SparkPlanCompiler.violations_column

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(columns.SparkPlanCompiler, "violations_column", counted)
    return calls
