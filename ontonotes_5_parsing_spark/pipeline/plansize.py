"""Catalyst plan-size probe for the static-plan scope (run.py): "is
this input provably small?", answered from the optimizer's sizeInBytes
estimate, conservatively huge when stats are unavailable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

STATIC_PLAN_MAX_BYTES = 512 << 20  # 512 MiB optimizer estimate


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a plan (bytes); conservative
    (very large) when stats are unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — any py4j hiccup → assume big
        return 1 << 62
