"""The three workloads: their operation lists and the output checks.

Each workload runs as one closed-loop client: the next operation
starts only after the previous one returned. An operation is one
query (build plus execute), one table copy, the CDC apply, or one JDBC
leg. Every call into the engine goes through its public functions and
sits inside a span of ``layers.Tracer``, which tags the Spark jobs it
runs with a job group of its own.
"""

from __future__ import annotations

import hashlib
import json
import os

#: Execute-bound relational queries over warm cached inputs: their
#: build runs no Spark job, so nearly all time is codegen, shuffle and
#: AQE. They bypass checkpoint lifetime and driver round-trips.
RELATIONAL = [
    "q_agg_group", "q_agg_global", "q_agg_countmin", "q_join_multi_star",
    "q_join_broadcast", "q_join_asof", "q_win_topk_per_group", "q_tpch_q8",
    "q_tpch_q18", "q_sessionize", "q_dedup_exact",
]

#: Build-bound LLM-data operators: iterative, with driver-side rounds,
#: localCheckpoint, a persisted index and mapInPandas legs.
LLM = ["q_dedup_cluster", "q_text_bm25_persisted", "q_emb_remove_top_pc_fast"]

#: Queries without a DuckDB oracle get a rows-only check; the expected
#: row count comes from this DuckDB statement instead.
ROWS_ONLY_SQL = {"q_emb_remove_top_pc_fast": "SELECT count(*) FROM embeddings"}

#: Tables copied by ``copy_sync``, parents before children. Its warm-up
#: pass copies only ``WARMUP_COPY`` (then applies the change log and
#: round-trips JDBC): every copy runs the same code path.
COPY_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
]
WARMUP_COPY = ["orders"]
JDBC_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

#: ``cache`` lists the inputs a workload's queries read, cached before
#: the first pass. ``warmup`` untimed passes come first; the first of them
#: checks the outputs. ``passes`` is the number of whole passes timed at
#: ``--seconds 10`` (scaled linearly with ``--seconds``), so every run of
#: a workload times the same multiset of operations.
WORKLOADS = {
    "copy_sync": {"queries": None, "cache": [], "warmup": 1, "passes": 1},
    "relational_mix": {
        "queries": RELATIONAL,
        "cache": ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents"],
        # one pass after the cold one is still in the JIT warm-up, 20-40%
        # slower than the passes that follow it
        "warmup": 2,
        "passes": 2,
    },
    "llm_pipeline": {
        "queries": LLM, "cache": ["documents", "embeddings"], "warmup": 1, "passes": 2,
    },
}


def digest(pdf, normalize) -> dict:
    """Row count, sorted column names and a sha256 over the canonical
    row multiset (``normalize`` is tools/check.py's canon)."""
    cols, rows = normalize(pdf)
    blob = json.dumps([cols, rows], separators=(",", ":")).encode()
    return {"columns": cols, "rows": len(rows), "sha256": hashlib.sha256(blob).hexdigest()}


def check_query(name: str, pdf, expected: dict, normalize) -> str | None:
    """None when ``pdf`` matches the stored expectation, else why not."""
    want = expected.get(name)
    if want is None:
        return "no expected digest"
    if "sha256" not in want:
        return None if len(pdf) == want["rows"] else f"{len(pdf)} rows, expected {want['rows']}"
    got = digest(pdf, normalize)
    return None if got == want else f"got {got}, expected {want}"


def cdc_expected_count(orders_path: str, log_path: str) -> int:
    """Rows in the published table after applying the log, counted by
    DuckDB: base keys the log never touches, plus logged keys whose
    last change is not a delete."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH last AS (
              SELECT o_orderkey, op, row_number() OVER
                (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
              FROM read_parquet('{log_path}'))
            SELECT (SELECT count(*) FROM read_parquet('{orders_path}')
                    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM last))
                 + (SELECT count(*) FROM last WHERE rn = 1 AND op <> 'D')
            """
        ).fetchone()[0]
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
