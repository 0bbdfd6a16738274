"""Plan inspection helpers.

The reference delegates all optimization to DuckDB (SURVEY §4); our
engine delegates to Catalyst — these helpers make the resulting
physical plans *assertable* so scale regressions (lost pushdown, a
dim join falling off broadcast, a global sort sneaking in) fail tests
instead of surfacing as 100 TB incidents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )
