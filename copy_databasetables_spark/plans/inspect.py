"""Plan-inspection helpers: the programmatic face of SCALE.md.

Used by tests/test_plans.py and by hand when iterating on an operator —
``explain_check(df)`` is the loop: run, read the final AQE plan, assert
the properties that matter at 100 TB.
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


def explain_check(
    df: DataFrame,
    *,
    max_shuffles: int | None = None,
    require_jvm_only: bool = False,
    require_broadcast: bool = False,
) -> PlanFacts:
    """Assert scale-critical plan properties; returns the facts so
    callers can assert more."""
    facts = plan_facts(df)
    if max_shuffles is not None and facts.shuffle_exchanges > max_shuffles:
        raise AssertionError(
            f"plan has {facts.shuffle_exchanges} shuffles (max {max_shuffles}):\n"
            + final_plan(df, execute=False)
        )
    if require_jvm_only and not facts.jvm_only:
        raise AssertionError("plan crosses to Python:\n" + final_plan(df, execute=False))
    if require_broadcast and facts.broadcast_joins == 0:
        raise AssertionError("expected a broadcast join:\n" + final_plan(df, execute=False))
    return facts
