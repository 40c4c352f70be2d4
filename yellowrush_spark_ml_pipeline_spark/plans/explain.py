"""Physical-plan inspection helpers — the engine's "did Catalyst do what I
meant" feedback loop.

Used by tests to assert scale-critical plan properties: filters pushed to
the parquet scan, broadcast joins where expected, whole-stage codegen over
the hot expressions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame) -> str:
    """The physical plan as ``EXPLAIN FORMATTED`` prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_report(df: DataFrame) -> dict[str, bool | int]:
    """Quick structural summary of the physical plan (formatted mode:
    codegen shows as ``[codegen id : N]`` / ``*`` nodes, and each operator
    appears twice — tree line + ``(N) Op`` detail header — so shuffle
    exchanges are counted from the detail headers only)."""
    plan = explain_str(df)
    return {
        "pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        "broadcast_join": "BroadcastHashJoin" in plan,
        "sort_merge_join": "SortMergeJoin" in plan,
        "whole_stage_codegen": "WholeStageCodegen" in plan or "codegen id" in plan,
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        # Exchanges that move data BY KEY (hash/range partitioning) — the
        # kind that re-shuffles a corpus at scale.  Round-robin exchanges
        # from the unsplittable-input scan spread
        # (functions/partitioning.py) are deliberately excluded: they are
        # a no-op at any scale where the input splits.
        "key_exchanges": len(re.findall(r"hashpartitioning|rangepartitioning", plan)),
        "python_udf": "BatchEvalPython" in plan or "ArrowEvalPython" in plan,
    }
