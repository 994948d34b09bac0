"""CLI for the copy engine — the reference's invocation surface
(SURVEY.md §3.1: a script called with source/target + a table list and
copy options), re-expressed over Spark:

    python -m copy_databasetables_spark \
        --source /root/testdata/sf0.001 --target /tmp/copy_out \
        --tables region nation customer --partitions 4 --checksum

    # database→database (the reference's native shape): both endpoints
    # jdbc: URLs — schema-fidelity copy (DDL/PK/indexes/defaults/
    # identity/FKs/triggers scripted and applied, rows bulk-loaded in
    # between)
    python -m copy_databasetables_spark \
        --source jdbc:derby:/tmp/src --target "jdbc:derby:/tmp/dst;create=true" \
        --tables dept emp

``MODES`` is the whole CLI: per mode, the flags that select it, the
flags it accepts and needs, and the engine call that prints its result.
One validation pass picks the first mode whose trigger is set and, before
any Spark session starts, refuses every flag that mode does not accept
(``--op-col``/``--seq-col`` count as set when they differ from their
defaults). This module only parses and dispatches: copies run in FK
order and every mode verifies inside the engine. Exit codes: 0 ok, 1
verification failed, 2 usage error or unknown table, 3 anything else
(unreadable source, ...).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

from copy_databasetables_spark.copy import engine
from copy_databasetables_spark.copy.engine import CopyVerificationError
from copy_databasetables_spark.io import TABLES, load_table
from copy_databasetables_spark.session import get_spark
from copy_databasetables_spark.sources.introspect import copy_tables_jdbc_with_schema

#: every option, in ``--help`` order; each dest is its flag with "-" → "_"
OPTIONS = {
    "--source": dict(help="source directory (parquet tables); not used with --delete"),
    "--target": dict(
        help="target root directory (required for every mode except --profile)"
    ),
    "--tables": dict(
        nargs="+",
        metavar="TABLE",
        help=f"tables to copy (default: all of {' '.join(TABLES[:7])})",
    ),
    "--partitions": dict(
        type=int, help="write parallelism per table (the bulk-copy batch knob)"
    ),
    "--checksum": dict(
        action="store_true",
        help="verify an order-insensitive content checksum, not just counts",
    ),
    "--incremental": dict(
        metavar="KEY",
        help="append-only copy: move only rows whose KEY exceeds the target's "
        "current maximum (full copy on first run)",
    ),
    "--scd2": dict(
        metavar="KEY",
        help="slowly-changing-dimension type-2 sync: apply the source snapshot "
        "to the type-2 dimension at target (created on first run); requires "
        "--tracked and --as-of, exactly one --tables",
    ),
    "--tracked": dict(
        nargs="+", metavar="COL", help="change-tracked columns (with --scd2)"
    ),
    "--as-of": dict(metavar="YYYY-MM-DD", help="snapshot effective date (with --scd2)"),
    "--cdc": dict(
        metavar="KEY",
        help="CDC mode: apply the ordered I/U/D change log at --source/<table> "
        "(full row images + op + seq columns) onto the base table at "
        "--target/<table> (staged, count-verified publish; a missing target "
        "bootstraps from an empty base); exactly one --tables entry",
    ),
    "--op-col": dict(
        default="op",
        metavar="COL",
        help="change-log operation column, 'I'|'U'|'D' (with --cdc; default 'op')",
    ),
    "--seq-col": dict(
        default="seq",
        metavar="COL",
        help="change-log per-key strictly-increasing sequence column (with "
        "--cdc; default 'seq')",
    ),
    "--delete": dict(
        metavar="KEY",
        help="targeted erasure: delete rows whose KEY is in --keys from the "
        "table at --target (staged, count-verified publish)",
    ),
    "--keys": dict(
        nargs="+", metavar="VALUE", help="key values to delete (with --delete)"
    ),
    "--profile": dict(
        action="store_true",
        help="profile mode: per-column rows/nulls/approx-distinct/min/max "
        "report for --tables at --source (no copy; --target unused)",
    ),
    "--verify-only": dict(
        action="store_true",
        help="re-verify a PRIOR copy without copying: the copy's own check "
        "(row counts and, with --checksum, column types and order-insensitive "
        "content checksums) between --source tables and the copies at "
        "--target; exit 1 on any mismatch",
    ),
}


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="copy_databasetables_spark",
        description="Copy tables between storage locations, verified.",
    )
    for flag, kwargs in OPTIONS.items():
        ap.add_argument(flag, **kwargs)
    return ap


class UsageError(Exception):
    """A flag combination the selected mode cannot run (exit code 2)."""


def _took(t0: float) -> str:
    return f"{time.time() - t0:.1f}s"


def _copied(results: list[tuple[str, int, str]], t0: float) -> int:
    for table, n, path in results:
        print(f"copied {table:<10} {n:>9} rows -> {path}")
    print(f"done: {len(results)} tables in {_took(t0)} (verified)")
    return 0


def _profile(spark, a, t0) -> int:
    tables = a.tables or TABLES
    for t in tables:
        rows = engine.profile_frame(load_table(spark, a.source, t)).collect()
        print(f"profile {t}: {rows[0]['n_rows'] if rows else 0} rows, {len(rows)} columns")
        for r in rows:
            nd, lo, hi = r["n_distinct_approx"], r["min_repr"], r["max_repr"]
            nd = "" if nd is None else f" ~distinct={nd}"
            rng = "" if lo is None else f" min={lo} max={hi}"
            print(f"  {r['column_name']} ({r['dtype']}): non_null={r['n_non_null']}{nd}{rng}")
    print(f"profiled {len(tables)} table(s) in {_took(t0)}")
    return 0


def _verify(spark, a, t0) -> int:
    tables, mismatched = a.tables or TABLES, []
    for t in tables:
        target = os.path.join(a.target, t)
        try:
            n = engine.verify_copy(spark, a.source, t, target, verify_checksum=a.checksum)
        except CopyVerificationError as err:
            mismatched.append(t)
            print(f"MISMATCH {err}")
        else:
            print(f"verified {t}: {n} rows ({'rows+checksum' if a.checksum else 'rows'})")
    status = "FAILED" if mismatched else "OK"
    print(
        f"{status}: verified {len(tables)} table(s), "
        f"{len(mismatched)} mismatched in {_took(t0)}"
    )
    return 1 if mismatched else 0


def _cdc(spark, a, t0) -> int:
    t = a.tables[0]
    res = engine.cdc_apply_table(
        spark, os.path.join(a.source, t), t, os.path.join(a.target, t),
        key=a.cdc, op_col=a.op_col, seq_col=a.seq_col,
    )
    print(
        f"cdc {res.table}: base now {res.rows_copied} row(s) at "
        f"{res.target_path} ({_took(t0)}, verified)"
    )
    return 0


def _scd2(spark, a, t0) -> int:
    t = a.tables[0]
    res = engine.scd2_table(
        spark, a.source, t, os.path.join(a.target, t),
        key=a.scd2, tracked=a.tracked, as_of=a.as_of,
    )
    print(
        f"scd2 {res.table}: dimension now {res.rows_copied} version row(s) at "
        f"{res.target_path} as of {a.as_of} ({_took(t0)}, verified)"
    )
    return 0


def _delete(spark, a, t0) -> int:
    res = engine.delete_rows(spark, a.target, a.delete, a.keys)
    print(
        f"deleted {res.rows_deleted} row(s) ({len(a.keys)} key(s)) from "
        f"{a.target}: {res.rows_copied} rows remain ({_took(t0)}, verified)"
    )
    return 0


def _jdbc(spark, a, t0) -> int:
    # scripted DDL, bulk load, indexes, then FKs, triggers and grants
    # after all loads: the copy reproduces state, never replays triggers
    metas = copy_tables_jdbc_with_schema(spark, a.source, a.target, a.tables)
    return _copied([(m.table, m.rows_copied, a.target) for m in metas], t0)


def _incremental(spark, a, t0) -> int:
    t = a.tables[0]
    r = engine.copy_table_incremental(
        spark, a.source, t, os.path.join(a.target, t), key=a.incremental
    )
    return _copied([(r.table, r.rows_copied, r.target_path)], t0)


def _copy(spark, a, t0) -> int:
    results = engine.copy_tables(
        spark, a.source, a.target, tables=a.tables,
        num_partitions=a.partitions, verify_checksum=a.checksum,
    )
    return _copied([(r.table, r.rows_copied, r.target_path) for r in results], t0)


def _is_jdbc(url: str | None) -> bool:
    return (url or "").startswith("jdbc:")


@dataclass(frozen=True)
class Mode:
    name: str  # how messages name the mode
    when: Callable[[argparse.Namespace], object]  # true selects the mode
    accepts: tuple[str, ...]  # dests it honours; any other set flag is refused
    needs: tuple[str, ...]  # dests that must be set, checked in this order
    run: Callable[..., int]  # (spark, args, t0) → exit code; prints the result
    one_table: bool = False  # exactly one --tables entry
    known_tables: bool = False  # --tables (default: all) must be in TABLES
    urls: str = ""  # "parquet": no jdbc: URL; "jdbc": both endpoints jdbc:


_ENDS = ("target", "source", "tables")

#: first match wins: a mode's trigger outranks every later mode's
MODES = [
    Mode("--profile", lambda a: a.profile, accepts=("profile", *_ENDS),
         needs=("source",), run=_profile, known_tables=True, urls="parquet"),
    Mode("--verify-only", lambda a: a.verify_only,
         accepts=("verify_only", "checksum", *_ENDS), needs=_ENDS[:2], run=_verify,
         known_tables=True, urls="parquet"),
    Mode("--cdc", lambda a: a.cdc, accepts=("cdc", "op_col", "seq_col", *_ENDS),
         needs=_ENDS, run=_cdc, one_table=True, urls="parquet"),
    Mode("--scd2", lambda a: a.scd2 or a.tracked or a.as_of,
         accepts=("scd2", "tracked", "as_of", *_ENDS),
         needs=("target", "scd2", "tracked", "as_of", "source", "tables"), run=_scd2,
         one_table=True),
    Mode("--delete", lambda a: a.delete or a.keys, accepts=("delete", "keys", "target"),
         needs=("target", "delete", "keys"), run=_delete, urls="parquet"),
    Mode("JDBC mode", lambda a: _is_jdbc(a.source) or _is_jdbc(a.target),
         accepts=_ENDS, needs=_ENDS, run=_jdbc, urls="jdbc"),
    Mode("--incremental", lambda a: a.incremental, accepts=("incremental", *_ENDS),
         needs=_ENDS, run=_incremental, one_table=True),
    Mode("copy mode", lambda a: True, accepts=("partitions", "checksum", *_ENDS),
         needs=_ENDS[:2], run=_copy),
]


def select_mode(ap: argparse.ArgumentParser, a: argparse.Namespace) -> Mode:
    """The mode ``a`` selects, or ``UsageError`` when it cannot run."""
    given = {k for k, v in vars(a).items() if v != ap.get_default(k)}
    mode = next(m for m in MODES if m.when(a))
    if given - set(mode.accepts):
        accepted = [f for f in OPTIONS if f[2:].replace("-", "_") in mode.accepts]
        raise UsageError(f"{mode.name} takes only {', '.join(accepted)}")
    for dest in mode.needs:
        if dest not in given:
            raise UsageError(
                "--target is required" if dest == "target"
                else f"{mode.name} requires --{dest.replace('_', '-')}"
            )
    if mode.one_table and len(a.tables) != 1:
        raise UsageError(f"{mode.name} requires exactly one --tables entry")
    jdbc = [_is_jdbc(u) for u in (a.source, a.target) if u]
    if mode.urls == "parquet" and any(jdbc):
        raise UsageError(f"{mode.name} works on parquet table directories, not jdbc: URLs")
    if mode.urls == "jdbc" and not all(jdbc):
        raise UsageError("--source and --target must both be jdbc: URLs")
    unknown = [t for t in a.tables or () if t not in TABLES]
    if mode.known_tables and unknown:
        raise UsageError(f"unknown table(s): {unknown}")
    return mode


def main(argv: list[str] | None = None) -> int:
    ap = parser()
    args = ap.parse_args(argv)
    try:
        mode = select_mode(ap, args)
        spark = get_spark("copy-cli")
        return mode.run(spark, args, time.time())
    except CopyVerificationError as err:
        print(f"FAILED: {err}", file=sys.stderr)
        return 1
    except (UsageError, KeyError) as err:
        print(f"FAILED: {err}", file=sys.stderr)
        return 2
    except Exception as err:  # unreadable source, permissions, ...
        first_line = str(err).partition("\n")[0]
        print(f"FAILED: {type(err).__name__}: {first_line}", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())
