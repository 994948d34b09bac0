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

Copies run in FK order regardless of the order given, each verified by
row count (and optionally an order-insensitive content checksum); the
exit code is non-zero if any copy fails verification.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from copy_databasetables_spark.copy.engine import CopyVerificationError, copy_tables
from copy_databasetables_spark.io import TABLES
from copy_databasetables_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="copy_databasetables_spark",
        description="Copy tables between storage locations, verified.",
    )
    ap.add_argument(
        "--source",
        default=None,
        help="source directory (parquet tables); not used with --delete",
    )
    ap.add_argument(
        "--target",
        default=None,
        help="target root directory (required for every mode except "
        "--profile)",
    )
    ap.add_argument(
        "--tables",
        nargs="+",
        default=None,
        metavar="TABLE",
        help=f"tables to copy (default: all of {' '.join(TABLES[:7])})",
    )
    ap.add_argument(
        "--partitions",
        type=int,
        default=None,
        help="write parallelism per table (the bulk-copy batch knob)",
    )
    ap.add_argument(
        "--checksum",
        action="store_true",
        help="verify an order-insensitive content checksum, not just counts",
    )
    ap.add_argument(
        "--incremental",
        metavar="KEY",
        default=None,
        help="append-only copy: move only rows whose KEY exceeds the "
        "target's current maximum (full copy on first run)",
    )
    ap.add_argument(
        "--scd2",
        metavar="KEY",
        default=None,
        help="slowly-changing-dimension type-2 sync: apply the source "
        "snapshot to the type-2 dimension at target (created on first "
        "run); requires --tracked and --as-of, exactly one --tables",
    )
    ap.add_argument(
        "--tracked",
        nargs="+",
        default=None,
        metavar="COL",
        help="change-tracked columns (with --scd2)",
    )
    ap.add_argument(
        "--as-of",
        dest="as_of",
        default=None,
        metavar="YYYY-MM-DD",
        help="snapshot effective date (with --scd2)",
    )
    ap.add_argument(
        "--cdc",
        metavar="KEY",
        default=None,
        help="CDC mode: apply the ordered I/U/D change log at "
        "--source/<table> (full row images + op + seq columns) onto the "
        "base table at --target/<table> (staged, count-verified publish; "
        "a missing target bootstraps from an empty base); exactly one "
        "--tables entry",
    )
    ap.add_argument(
        "--op-col",
        dest="op_col",
        default="op",
        metavar="COL",
        help="change-log operation column, 'I'|'U'|'D' (with --cdc; "
        "default 'op')",
    )
    ap.add_argument(
        "--seq-col",
        dest="seq_col",
        default="seq",
        metavar="COL",
        help="change-log per-key strictly-increasing sequence column "
        "(with --cdc; default 'seq')",
    )
    ap.add_argument(
        "--delete",
        metavar="KEY",
        default=None,
        help="targeted erasure: delete rows whose KEY is in --keys from "
        "the table at --target (staged, count-verified publish)",
    )
    ap.add_argument(
        "--keys",
        nargs="+",
        default=None,
        metavar="VALUE",
        help="key values to delete (with --delete)",
    )
    ap.add_argument(
        "--profile",
        action="store_true",
        help="profile mode: per-column rows/nulls/approx-distinct/min/max "
        "report for --tables at --source (no copy; --target unused)",
    )
    ap.add_argument(
        "--verify-only",
        dest="verify_only",
        action="store_true",
        help="re-verify a PRIOR copy without copying: compare row counts "
        "(and, with --checksum, order-insensitive content checksums) "
        "between --source tables and the copies at --target; exit 1 on "
        "any mismatch",
    )
    args = ap.parse_args(argv)

    # profile mode: read-only report, needs only --source (+ tables)
    if args.profile:
        if not args.source:
            print("FAILED: --profile requires --source", file=sys.stderr)
            return 2
        if args.source.startswith("jdbc:"):
            print(
                "FAILED: --profile reads parquet table directories, not "
                "jdbc: URLs",
                file=sys.stderr,
            )
            return 2
        if (
            args.checksum
            or args.partitions is not None
            or args.incremental is not None
            or args.delete is not None
            or args.scd2 is not None
            or args.tracked is not None
            or args.as_of is not None
            or args.keys is not None
            or args.cdc is not None
        ):
            print(
                "FAILED: --profile takes only --source and --tables",
                file=sys.stderr,
            )
            return 2
        tables = args.tables if args.tables is not None else list(TABLES)
        unknown = [t for t in tables if t not in TABLES]
        if unknown:
            print(f"FAILED: unknown table(s): {unknown}", file=sys.stderr)
            return 2
        from copy_databasetables_spark.copy.engine import profile_frame
        from copy_databasetables_spark.io import load_table

        spark = get_spark("copy-cli")
        t0 = time.time()
        for t in tables:
            try:
                rows = profile_frame(load_table(spark, args.source, t)).collect()
            except Exception as err:
                first_line = str(err).split("\n")[0]
                print(
                    f"FAILED: {type(err).__name__}: {first_line}",
                    file=sys.stderr,
                )
                return 3
            n_rows = rows[0]["n_rows"] if rows else 0
            print(f"profile {t}: {n_rows} rows, {len(rows)} columns")
            for r in rows:
                nd = (
                    f" ~distinct={r['n_distinct_approx']}"
                    if r["n_distinct_approx"] is not None
                    else ""
                )
                rng = (
                    f" min={r['min_repr']} max={r['max_repr']}"
                    if r["min_repr"] is not None
                    else ""
                )
                print(
                    f"  {r['column_name']} ({r['dtype']}): "
                    f"non_null={r['n_non_null']}{nd}{rng}"
                )
        print(f"profiled {len(tables)} table(s) in {time.time() - t0:.1f}s")
        return 0

    if args.target is None:
        print("FAILED: --target is required", file=sys.stderr)
        return 2

    # verify-only mode: the upstream verification step decoupled from the
    # copy — audit an EXISTING target against the source (incident
    # re-checks, scheduled integrity sweeps) without moving a byte
    if args.verify_only:
        if not args.source:
            print("FAILED: --verify-only requires --source", file=sys.stderr)
            return 2
        if args.source.startswith("jdbc:") or args.target.startswith("jdbc:"):
            print(
                "FAILED: --verify-only compares parquet table directories, "
                "not jdbc: URLs",
                file=sys.stderr,
            )
            return 2
        if (
            args.partitions is not None
            or args.incremental is not None
            or args.delete is not None
            or args.scd2 is not None
            or args.tracked is not None
            or args.as_of is not None
            or args.keys is not None
            or args.cdc is not None
        ):
            print(
                "FAILED: --verify-only takes only --source/--target/--tables/"
                "--checksum",
                file=sys.stderr,
            )
            return 2
        tables = args.tables if args.tables is not None else list(TABLES)
        unknown = [t for t in tables if t not in TABLES]
        if unknown:
            print(f"FAILED: unknown table(s): {unknown}", file=sys.stderr)
            return 2
        from copy_databasetables_spark.copy.engine import checksum_aggs
        from copy_databasetables_spark.io import load_table

        spark = get_spark("copy-cli")
        t0 = time.time()
        mismatched = []
        for t in tables:
            try:
                src = load_table(spark, args.source, t)
                dst = spark.read.parquet(os.path.join(args.target, t))
            except Exception as err:
                first_line = str(err).split("\n")[0]
                print(
                    f"FAILED: {type(err).__name__}: {first_line}",
                    file=sys.stderr,
                )
                return 3
            problems = []
            # one aggregate per side: the row count, plus the checksum
            # triple's hash sum and xor with --checksum — computed over
            # the source's column order on both sides, so column order
            # must not matter
            aggs = checksum_aggs(src.columns)[: 3 if args.checksum else 1]
            try:
                want = src.agg(*aggs).first()
                side = dst.select(*src.columns) if args.checksum else dst
                got = side.agg(*aggs).first()
                n_src, n_dst = want["n"], got["n"]
                if n_src != n_dst:
                    problems.append(f"rows {n_src} != {n_dst}")
                elif want != got:
                    problems.append("content checksum mismatch")
            except Exception as err:
                # a target with a missing/renamed column (AnalysisException
                # from the select) or a corrupt part file is exactly what
                # an audit must REPORT, not crash on: record it as this
                # table's mismatch and keep auditing the rest.
                first_line = str(err).split("\n")[0]
                problems.append(
                    f"schema/content error: {type(err).__name__}: {first_line}"
                )
            if problems:
                mismatched.append(t)
                print(f"MISMATCH {t}: {'; '.join(problems)}")
            else:
                mode = "rows+checksum" if args.checksum else "rows"
                print(f"verified {t}: {n_src} rows ({mode})")
        status = "FAILED" if mismatched else "OK"
        print(
            f"{status}: verified {len(tables)} table(s), "
            f"{len(mismatched)} mismatched in {time.time() - t0:.1f}s"
        )
        return 1 if mismatched else 0

    # CDC mode: apply the change log at --source onto the base at --target
    if args.cdc:
        if not args.source or not args.tables or len(args.tables) != 1:
            print(
                "FAILED: --cdc requires --source and exactly one --tables "
                "entry",
                file=sys.stderr,
            )
            return 2
        if (
            args.checksum
            or args.partitions is not None
            or args.incremental is not None
            or args.delete is not None
            or args.scd2 is not None
            or args.keys is not None
            or args.tracked is not None
            or args.as_of is not None
        ):
            print(
                "FAILED: --checksum/--partitions/--incremental/--delete/"
                "--scd2/--tracked/--as-of are not supported with --cdc",
                file=sys.stderr,
            )
            return 2
        if args.source.startswith("jdbc:") or args.target.startswith("jdbc:"):
            print(
                "FAILED: --cdc operates on parquet table directories, not "
                "jdbc: URLs",
                file=sys.stderr,
            )
            return 2
        from copy_databasetables_spark.copy.engine import cdc_apply_table

        spark = get_spark("copy-cli")
        t0 = time.time()
        t = args.tables[0]
        try:
            res = cdc_apply_table(
                spark,
                os.path.join(args.source, t),
                t,
                os.path.join(args.target, t),
                key=args.cdc,
                op_col=args.op_col,
                seq_col=args.seq_col,
            )
        except CopyVerificationError as err:
            print(f"FAILED: {err}", file=sys.stderr)
            return 1
        except Exception as err:
            first_line = str(err).split("\n")[0]
            print(f"FAILED: {type(err).__name__}: {first_line}", file=sys.stderr)
            return 3
        print(
            f"cdc {res.table}: base now {res.rows_copied} row(s) at "
            f"{res.target_path} ({time.time() - t0:.1f}s, verified)"
        )
        return 0

    # SCD2 sync mode: one table, tracked columns, an effective date
    if args.scd2 or args.tracked or args.as_of:
        if not (args.scd2 and args.tracked and args.as_of):
            print(
                "FAILED: --scd2 KEY, --tracked COL... and --as-of DATE go "
                "together",
                file=sys.stderr,
            )
            return 2
        if not args.source or not args.tables or len(args.tables) != 1:
            print(
                "FAILED: --scd2 requires --source and exactly one --tables "
                "entry",
                file=sys.stderr,
            )
            return 2
        if args.checksum or args.partitions or args.incremental or args.delete:
            print(
                "FAILED: --checksum/--partitions/--incremental/--delete are "
                "not supported with --scd2",
                file=sys.stderr,
            )
            return 2
        from copy_databasetables_spark.copy.engine import scd2_table

        spark = get_spark("copy-cli")
        t0 = time.time()
        t = args.tables[0]
        try:
            res = scd2_table(
                spark, args.source, t, os.path.join(args.target, t),
                key=args.scd2, tracked=args.tracked, as_of=args.as_of,
            )
        except CopyVerificationError as err:
            print(f"FAILED: {err}", file=sys.stderr)
            return 1
        except Exception as err:
            first_line = str(err).split("\n")[0]
            print(f"FAILED: {type(err).__name__}: {first_line}", file=sys.stderr)
            return 3
        print(
            f"scd2 {res.table}: dimension now {res.rows_copied} version "
            f"row(s) at {res.target_path} as of {args.as_of} "
            f"({time.time() - t0:.1f}s, verified)"
        )
        return 0

    # targeted-erasure mode operates on --target alone
    if args.delete or args.keys:
        if not (args.delete and args.keys):
            print("FAILED: --delete KEY and --keys go together", file=sys.stderr)
            return 2
        if (
            args.source is not None
            or args.tables is not None
            or args.checksum
            or args.partitions is not None
            or args.incremental is not None
        ):
            print(
                "FAILED: --delete takes only --target (the table directory) "
                "and --keys",
                file=sys.stderr,
            )
            return 2
        if args.target.startswith("jdbc:"):
            print(
                "FAILED: --delete operates on a parquet table directory, "
                "not a jdbc: URL",
                file=sys.stderr,
            )
            return 2
        from copy_databasetables_spark.copy.engine import delete_rows

        spark = get_spark("copy-cli")
        t0 = time.time()
        try:
            res = delete_rows(spark, args.target, args.delete, args.keys)
        except CopyVerificationError as err:
            print(f"FAILED: {err}", file=sys.stderr)
            return 1
        except Exception as err:
            first_line = str(err).split("\n")[0]
            print(f"FAILED: {type(err).__name__}: {first_line}", file=sys.stderr)
            return 3
        print(
            f"deleted {res.rows_deleted} row(s) ({len(args.keys)} key(s)) "
            f"from {args.target}: {res.rows_copied} rows remain "
            f"({time.time() - t0:.1f}s, verified)"
        )
        return 0

    if not args.source:
        print("FAILED: --source is required", file=sys.stderr)
        return 2

    spark = get_spark("copy-cli")
    t0 = time.time()

    # JDBC→JDBC mode: both endpoints are jdbc: URLs — the reference's
    # native shape (database to database). Tables are copied with full
    # schema fidelity: scripted DDL (types, NOT NULL, PK, defaults,
    # identity), bulk load, secondary indexes, then FKs and triggers
    # after all loads (triggers last: the copy must reproduce state,
    # never replay per-row trigger actions during the load).
    if (args.source or "").startswith("jdbc:") or (args.target or "").startswith("jdbc:"):
        if not (args.source.startswith("jdbc:") and args.target.startswith("jdbc:")):
            print("FAILED: --source and --target must both be jdbc: URLs", file=sys.stderr)
            return 2
        if not args.tables:
            print("FAILED: --tables is required in JDBC mode", file=sys.stderr)
            return 2
        # refuse rather than silently ignore flags this mode can't honor
        if args.checksum or args.partitions or args.incremental:
            print(
                "FAILED: --checksum/--partitions/--incremental are not "
                "supported in JDBC mode",
                file=sys.stderr,
            )
            return 2
        try:
            from copy_databasetables_spark.sources.introspect import (
                copy_tables_jdbc_with_schema,
            )
            from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

            metas = copy_tables_jdbc_with_schema(
                spark, args.source, args.target, args.tables
            )
            for m in metas:
                n = JdbcReadSpec(url=args.target, table=m.table).load(spark).count()
                n_src = JdbcReadSpec(url=args.source, table=m.table).load(spark).count()
                if n != n_src:
                    print(f"FAILED: {m.table}: {n_src} source rows, {n} copied", file=sys.stderr)
                    return 1
                print(f"copied {m.table:<10} {n:>9} rows -> {args.target}")
        except Exception as err:
            first_line = str(err).split("\n")[0]
            print(f"FAILED: {type(err).__name__}: {first_line}", file=sys.stderr)
            return 3
        print(f"done: {len(metas)} tables in {time.time() - t0:.1f}s (verified)")
        return 0

    try:
        if args.incremental:
            from copy_databasetables_spark.copy.engine import copy_table_incremental

            # the high-water-mark key is table-specific — one table per run
            if not args.tables or len(args.tables) != 1:
                print(
                    "FAILED: --incremental KEY requires exactly one --tables entry",
                    file=sys.stderr,
                )
                return 2
            # incremental verifies by count only; refuse flags it can't honor
            if args.checksum or args.partitions:
                print(
                    "FAILED: --checksum/--partitions are not supported with "
                    "--incremental",
                    file=sys.stderr,
                )
                return 2
            t = args.tables[0]
            results = [
                copy_table_incremental(
                    spark, args.source, t, os.path.join(args.target, t),
                    key=args.incremental,
                )
            ]
        else:
            results = copy_tables(
                spark,
                args.source,
                args.target,
                tables=args.tables,
                num_partitions=args.partitions,
                verify_checksum=args.checksum,
            )
    except CopyVerificationError as err:
        print(f"FAILED: {err}", file=sys.stderr)
        return 1
    except KeyError as err:
        print(f"FAILED: {err}", file=sys.stderr)
        return 2
    except Exception as err:  # unreadable source, permissions, ...
        first_line = str(err).split("\n")[0]
        print(f"FAILED: {type(err).__name__}: {first_line}", file=sys.stderr)
        return 3
    for r in results:
        print(f"copied {r.table:<10} {r.rows_copied:>9} rows -> {r.target_path}")
    print(f"done: {len(results)} tables in {time.time() - t0:.1f}s (verified)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
