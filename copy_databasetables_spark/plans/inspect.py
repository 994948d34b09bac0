"""Plan-inspection helpers: the programmatic face of SCALE.md.

Used by tools/dump_plans.py to read an operator's final AQE plan and
count the properties that matter at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def final_plan(df: DataFrame, execute: bool = True) -> str:
    """The executed physical plan. Under AQE the *final* plan (join
    strategies, codegen spans, coalesced partitions) only exists after at
    least one execution — ``execute`` runs the plan via collect()."""
    if execute:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanFacts:
    broadcast_joins: int
    shuffle_exchanges: int
    sort_merge_joins: int
    has_partial_agg: bool
    python_evals: int
    codegen_stages: int

    @property
    def jvm_only(self) -> bool:
        return self.python_evals == 0


def plan_facts(df: DataFrame, execute: bool = True) -> PlanFacts:
    p = final_plan(df, execute=execute)
    return PlanFacts(
        broadcast_joins=p.count("BroadcastHashJoin"),
        shuffle_exchanges=p.count("Exchange hashpartitioning")
        + p.count("Exchange rangepartitioning"),
        sort_merge_joins=p.count("SortMergeJoin"),
        has_partial_agg="partial_" in p,
        python_evals=p.count("PythonUDF")
        + p.count("ArrowEvalPython")
        + p.count("BatchEvalPython"),
        codegen_stages=p.count("*("),
    )

