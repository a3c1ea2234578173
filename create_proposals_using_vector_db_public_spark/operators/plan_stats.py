"""Catalyst plan-statistics probe for estimate-driven guards.

Its single caller is q_pagerank's state-broadcast gate
(``plans/graph_queries.py``), which picks a broadcast or a shuffled join
from the optimizer's size estimate of the degree table. The probe is an
operator module of its own so the benchmark's per-layer trace times it as
one (``perfbench/layers.py`` lists ``plan_stats`` among its operator
modules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes, None when the
    probe is unavailable (no JVM plan handle, API drift)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
