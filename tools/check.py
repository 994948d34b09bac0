"""Local oracle differential runner — mirrors the driver's correctness gate.

Runs every registered query at a scale factor (default sf0.01, the t2
gate) on Spark, runs its DuckDB oracle SQL on the same parquet files, and
compares row count + column names + an order-insensitive multiset of
canonicalized values. Queries with no oracle get a rows-only check.

Usage:
    python tools/check.py                 # all queries at sf0.01
    python tools/check.py q_agg_group    # one query, prints both outputs
    python tools/check.py --sf sf0.001 q_pivot q_agg_stats
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from copy_databasetables_spark import get_spark, operators  # noqa: E402
from copy_databasetables_spark.io import TABLES, table_path  # noqa: E402
from copy_databasetables_spark.operators._helpers import free_ckpts  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def canon(v) -> str:
    """Canonicalize one cell for cross-system comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        # Deliberately DO NOT collapse -0.0: the driver's hasher
        # distinguishes IEEE signed zero (the q_emb_covariance r10 miss
        # slipped through a weaker local gate that collapsed it). repr
        # keeps the sign, so the local gate is now at least as strict.
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "item") and type(v).__module__ == "numpy":  # numpy scalar
        return canon(v.item())
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "<null>"
        return v.isoformat()
    if v is pd.NaT:
        return "<null>"
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(canon(v) for v in row) for row in df[cols].itertuples(index=False)]
    rows.sort()
    return cols, rows


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    sc, sr = normalize(spark_df)
    dc, dr = normalize(duck_df)
    if sc != dc:
        problems.append(f"columns differ: spark={sc} duckdb={dc}")
        return problems
    if len(sr) != len(dr):
        problems.append(f"row count differs: spark={len(sr)} duckdb={len(dr)}")
    diffs = [(a, b) for a, b in zip(sr, dr) if a != b]
    if diffs:
        problems.append(f"{len(diffs)} row diffs (of {len(sr)}); first 3:")
        for a, b in diffs[:3]:
            problems.append(f"  spark : {a}")
            problems.append(f"  duckdb: {b}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query keys to run (default: all)")
    ap.add_argument("--sf", default="sf0.01")
    ap.add_argument("--show", action="store_true", help="print both outputs")
    ap.add_argument(
        "--first",
        type=int,
        default=None,
        metavar="N",
        help="run only the first N queries() entries in the dict's "
        "DRIVER-WINDOW order (operators.DRIVER_WINDOW first) — mirrors "
        "the external driver's capped window (N=50)",
    )
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        metavar="N",
        help="run every shuffle at exactly N partitions (default: the "
        "engine's 32, which AQE starts at 512). "
        "Running the whole gate under a DIFFERENT count is the "
        "cluster-resize adversarial check: every operator's value hash "
        "must be partition-count-invariant, so any hidden dependence on "
        "partition boundaries goes red against the unchanged oracle.",
    )
    args = ap.parse_args()
    sf_dir = f"/root/testdata/{args.sf}"

    queries = operators.all_queries()
    oracles = operators.all_oracles()
    if args.first is not None:
        if args.names:
            print("--first and explicit query names are mutually exclusive",
                  file=sys.stderr)
            return 2
        names = list(queries)[: args.first]
    else:
        names = args.names or sorted(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("check", shuffle_partitions=args.shuffle_partitions)
    con = duck_connect(sf_dir)

    passed, failed = [], []
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
            # untimed: free this invocation's localCheckpoint blocks
            # (strictly after toPandas consumed the frame — see
            # _helpers.free_ckpts). A 281-query sweep otherwise leaves
            # every materialization for GC + ContextCleaner.
            free_ckpts(spark)
        except Exception:
            failed.append(name)
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc(limit=8)
            continue
        if name not in oracles:
            # mirror the driver's rows>0 gate: an oracle-less operator
            # that regresses to zero rows is a FAIL, not a pass.
            ok = len(sdf) > 0
            status = "PASS" if ok else "FAIL"
            print(f"{status}* {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            (passed if ok else failed).append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception:
            failed.append(name)
            print(f"FAIL  {name}: duckdb oracle raised")
            traceback.print_exc(limit=4)
            continue
        problems = compare(sdf, ddf)
        if args.show or problems:
            print(f"--- {name} spark ---\n{sdf.head(20)}")
            print(f"--- {name} duckdb ---\n{ddf.head(20)}")
        if problems:
            failed.append(name)
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            passed.append(name)
            print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(passed)} passed, {len(failed)} failed of {len(names)}")
    if failed:
        print("failed:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
