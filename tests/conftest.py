from __future__ import annotations

import time

import pytest

from datapipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="datapipeline-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def registry_builds(spark):
    """``registry_builds(sf)``: every registry query constructed once per
    session at ``sf``, in registry order: name -> (construct_s,
    executedPlan string), or name -> (None, error) when construction or
    planning raised. Only ``fn(spark, sf)`` is timed; the DataFrame is
    dropped once planned. The construction-time budgets and the plan
    invariants both read this one sweep."""
    import __spark_entry__ as entry

    sweeps: dict[str, dict] = {}

    def sweep(sf: str) -> dict:
        if sf in sweeps:
            return sweeps[sf]
        qs = entry.queries()
        # JVM/session warm-up so the first measured query doesn't pay it
        spark.range(10).count()
        next(iter(qs.values()))(spark, sf)
        out = sweeps[sf] = {}
        for name, fn in qs.items():
            try:
                t0 = time.time()
                df = fn(spark, sf)
                took = time.time() - t0
                out[name] = (took, df._jdf.queryExecution().executedPlan().toString())
            except Exception as e:  # recorded; the consuming tests fail on it
                out[name] = (None, f"{type(e).__name__}: {e}")
        return out

    return sweep


def rows(df, *order_cols):
    """Collect to plain tuples sorted by the given columns for stable asserts."""
    if order_cols:
        df = df.orderBy(*order_cols)
    return [tuple(r) for r in df.collect()]
