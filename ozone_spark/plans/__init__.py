"""Plan inspection helpers — the engine's window into Catalyst.

Used by tests/test_plans.py to assert the physical properties the
100 TB layout policy is designed to produce (partition pruning, parquet
pushdown, broadcast joins, partial aggregation, top-k)."""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (explain() only prints)."""
    try:
        jvm = df._sc._jvm  # type: ignore[attr-defined]
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return df._jdf.queryExecution().explainString(mode)  # type: ignore[attr-defined]
    except Exception as e:
        log.warning("formatted explain through the JVM failed, falling "
                    "back to DataFrame.explain: %s", e)
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()
