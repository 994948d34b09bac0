"""Copy-CLI tests: the reference's invocation surface end to end."""

from __future__ import annotations

import pytest

from copy_databasetables_spark import __main__ as cli
from copy_databasetables_spark.__main__ import main
from tests.conftest import SF_SMOKE

OUT = "/tmp/spark_graft_test_cli"


def test_cli_happy_path(spark, capsys):
    rc = main(
        ["--source", SF_SMOKE, "--target", OUT, "--tables", "orders", "region"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    # FK order restored: region line printed before orders
    assert out.index("copied region") < out.index("copied orders")
    assert "1500 rows" in out and "verified" in out


def test_cli_unknown_table(spark, capsys):
    rc = main(["--source", SF_SMOKE, "--target", OUT, "--tables", "nope"])
    assert rc == 2
    assert "unknown table" in capsys.readouterr().err


def test_cli_unreadable_source(spark, capsys):
    rc = main(["--source", "/root/testdata/nope", "--target", OUT])
    assert rc == 3
    assert "FAILED" in capsys.readouterr().err


def test_cli_jdbc_to_jdbc_schema_copy(spark, capsys):
    """Database→database CLI mode (the reference's native shape): both
    endpoints jdbc: URLs, schema-fidelity copy with PK surviving."""
    import os

    from copy_databasetables_spark.sources.introspect import (
        execute_ddl,
        introspect_jdbc_table,
    )

    src = f"jdbc:derby:/tmp/spark_graft_derby/cli{os.getpid()}_s;create=true"
    dst = f"jdbc:derby:/tmp/spark_graft_derby/cli{os.getpid()}_d;create=true"
    execute_ddl(spark, src, [
        "CREATE TABLE items (i_id INTEGER NOT NULL, i_name VARCHAR(10),"
        " CONSTRAINT pk_items PRIMARY KEY (i_id))",
        "INSERT INTO items VALUES (1, 'a'), (2, 'b')",
    ])
    rc = main(["--source", src, "--target", dst, "--tables", "items"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "copied items" in out and "2 rows" in out
    assert introspect_jdbc_table(spark, dst, "items").pk_columns == ["i_id"]


def test_cli_jdbc_requires_both_urls_and_tables(spark, capsys):
    rc = main(["--source", "jdbc:derby:memory:x", "--target", "/tmp/nope"])
    assert rc == 2
    rc = main(["--source", "jdbc:derby:memory:x", "--target", "jdbc:derby:memory:y"])
    assert rc == 2


def test_cli_incremental_copy(spark, capsys, tmp_path):
    target = str(tmp_path / "inc")
    rc = main(["--source", SF_SMOKE, "--target", target,
               "--tables", "orders", "--incremental", "o_orderkey"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "copied orders" in out and "1500 rows" in out
    # re-run: idempotent (high-water mark already at max)
    rc = main(["--source", SF_SMOKE, "--target", target,
               "--tables", "orders", "--incremental", "o_orderkey"])
    assert rc == 0
    assert "1500 rows" in capsys.readouterr().out


def test_cli_incremental_requires_single_table(spark, capsys):
    rc = main(["--source", SF_SMOKE, "--target", "/tmp/x",
               "--tables", "orders", "region", "--incremental", "o_orderkey"])
    assert rc == 2


def test_cli_rejects_unsupported_flags_per_mode(spark, capsys):
    """Modes that cannot honor a flag must refuse it, never silently
    drop it and print '(verified)'."""
    rc = main(["--source", SF_SMOKE, "--target", "/tmp/x", "--tables", "orders",
               "--incremental", "o_orderkey", "--checksum"])
    assert rc == 2
    rc = main(["--source", "jdbc:derby:memory:a", "--target", "jdbc:derby:memory:b",
               "--tables", "t", "--checksum"])
    assert rc == 2


def test_cli_delete_mode(spark, capsys, tmp_path):
    """--delete KEY --keys ...: erases exactly those keys (string keys
    cast to the column type), count-verified; bad flag combos exit 2."""
    tgt = str(tmp_path / "nation")
    rc = main(["--source", SF_SMOKE, "--target", str(tmp_path), "--tables", "nation"])
    assert rc == 0
    rc = main(["--target", tgt, "--delete", "n_nationkey", "--keys", "0", "7"])
    out = capsys.readouterr().out
    assert rc == 0 and "23 rows remain" in out and "verified" in out
    left = {r["n_nationkey"] for r in spark.read.parquet(tgt).collect()}
    assert 0 not in left and 7 not in left and len(left) == 23
    # --delete without --keys, and --delete combined with copy flags
    assert main(["--target", tgt, "--delete", "n_nationkey"]) == 2
    assert (
        main(
            ["--source", SF_SMOKE, "--target", tgt, "--delete", "n_nationkey",
             "--keys", "1", "--checksum"]
        )
        == 2
    )
    # missing source in copy mode is a usage error, not a crash
    assert main(["--target", str(tmp_path)]) == 2


def test_cli_scd2_mode(spark, capsys, tmp_path):
    """Two --scd2 syncs: the first materializes the dimension, the
    second (identical snapshot) leaves every version row open and
    unchanged; flag misuse exits 2."""
    tgt = str(tmp_path / "dim")
    rc = main(
        ["--source", SF_SMOKE, "--target", tgt, "--tables", "customer",
         "--scd2", "c_custkey", "--tracked", "c_acctbal", "c_mktsegment",
         "--as-of", "2024-01-01"]
    )
    assert rc == 0
    assert "150 version row(s)" in capsys.readouterr().out
    rc = main(
        ["--source", SF_SMOKE, "--target", tgt, "--tables", "customer",
         "--scd2", "c_custkey", "--tracked", "c_acctbal", "c_mktsegment",
         "--as-of", "2024-02-01"]
    )
    assert rc == 0
    assert "150 version row(s)" in capsys.readouterr().out
    dim = spark.read.parquet(f"{tgt}/customer")
    assert dim.count() == 150
    assert dim.where("NOT is_current OR valid_to IS NOT NULL").count() == 0
    assert set(dim.select("valid_from").distinct().toPandas()["valid_from"]) == {
        "2024-01-01"
    }
    # misuse: --scd2 without --tracked/--as-of
    rc = main(["--target", "/tmp/x", "--scd2", "k"])
    assert rc == 2
    assert "--tracked" in capsys.readouterr().err


def test_cli_profile_mode(spark, capsys):
    """--profile: read-only per-column report, no --target needed; the
    complex-typed embedding column takes the count-only row."""
    rc = main(["--profile", "--source", SF_SMOKE, "--tables", "region", "embeddings"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "profile region: 5 rows" in out
    assert "r_regionkey (int): non_null=5 ~distinct=5 min=0 max=4" in out
    assert "embedding (array<float>): non_null=" in out
    assert "~distinct" not in out.split("embedding (array<float>)")[1].split("\n")[0]
    assert "profiled 2 table(s)" in out


def test_cli_profile_flag_misuse(spark, capsys):
    assert main(["--profile", "--target", "/tmp/x"]) == 2
    assert "requires --source" in capsys.readouterr().err
    assert main(["--profile", "--source", SF_SMOKE, "--checksum"]) == 2
    assert "only --source" in capsys.readouterr().err
    # SCD2/delete companion flags must be rejected too, not silently
    # ignored (code-review finding)
    assert main(["--profile", "--source", SF_SMOKE, "--tracked", "c"]) == 2
    assert "only --source" in capsys.readouterr().err
    assert main(["--profile", "--source", SF_SMOKE, "--as-of", "2024-01-01"]) == 2
    assert "only --source" in capsys.readouterr().err
    assert main(["--profile", "--source", SF_SMOKE, "--keys", "1"]) == 2
    assert "only --source" in capsys.readouterr().err
    assert main(["--source", SF_SMOKE, "--tables", "region"]) == 2
    assert "--target is required" in capsys.readouterr().err


def test_cli_verify_only_ok_and_mismatch(spark, capsys, tmp_path):
    """--verify-only: audit an existing copy without copying. A fresh
    copy verifies clean (exit 0, rows+checksum); after a target row
    goes missing the same invocation reports the table and exits 1."""
    import glob
    import os

    import duckdb

    tgt = str(tmp_path / "vo")
    assert main(["--source", SF_SMOKE, "--target", tgt,
                 "--tables", "region", "nation"]) == 0
    capsys.readouterr()

    rc = main(["--verify-only", "--checksum", "--source", SF_SMOKE,
               "--target", tgt, "--tables", "region", "nation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "verified region: 5 rows (rows+checksum)" in out
    assert "OK: verified 2 table(s), 0 mismatched" in out

    # drop one region row in place (and the Hadoop .crc sidecars, which
    # would otherwise fail the local-FS checksum read before the count)
    parts = glob.glob(f"{tgt}/region/part*.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet({parts!r}) LIMIT 4) "
        f"TO '{tgt}/short.parquet'"
    )
    for p in parts + glob.glob(f"{tgt}/region/.*.crc"):
        os.remove(p)
    os.rename(f"{tgt}/short.parquet", parts[0])

    rc = main(["--verify-only", "--source", SF_SMOKE, "--target", tgt,
               "--tables", "region", "nation"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "MISMATCH region: rows 5 != 4" in out
    assert "verified nation: 25 rows (rows)" in out
    assert "FAILED: verified 2 table(s), 1 mismatched" in out


def test_cli_verify_only_flag_misuse(spark, capsys):
    assert main(["--verify-only", "--target", "/tmp/x"]) == 2
    assert "requires --source" in capsys.readouterr().err
    assert main(["--verify-only", "--source", SF_SMOKE, "--target", "/tmp/x",
                 "--incremental", "k"]) == 2
    assert "takes only" in capsys.readouterr().err
    assert main(["--verify-only", "--source", "jdbc:derby:/tmp/d",
                 "--target", "/tmp/x"]) == 2
    assert "parquet table directories" in capsys.readouterr().err


@pytest.mark.parametrize("drift", ["renamed", "smallint", "binary"])
def test_cli_verify_only_schema_drift_reports_mismatch(spark, capsys, tmp_path, drift):
    """A target whose column was renamed (by another engine, so its
    footer carries no Spark schema) or retyped must be REPORTED as a
    mismatch (exit 1), not crash or pass: xxhash64 hashes a smallint as
    an int and binary as string bytes, so only the footer check sees a
    retyped column."""
    import glob
    import os

    import duckdb

    from copy_databasetables_spark.io import load_table

    tgt = str(tmp_path / "vo_drift")
    assert main(["--source", SF_SMOKE, "--target", tgt,
                 "--tables", "region", "nation"]) == 0
    capsys.readouterr()

    if drift == "renamed":
        parts = glob.glob(f"{tgt}/region/part*.parquet")
        con = duckdb.connect()
        con.execute(
            f"COPY (SELECT r_regionkey, r_name AS r_renamed "
            f"FROM read_parquet({parts!r})) TO '{tgt}/drift.parquet'"
        )
        for p in parts + glob.glob(f"{tgt}/region/.*.crc"):
            os.remove(p)
        os.rename(f"{tgt}/drift.parquet", parts[0])
    else:
        col = {"smallint": "r_regionkey", "binary": "r_name"}[drift]
        region = load_table(spark, SF_SMOKE, "region")
        region.withColumn(col, region[col].cast(drift)).write.mode(
            "overwrite"
        ).parquet(f"{tgt}/region")

    rc = main(["--verify-only", "--checksum", "--source", SF_SMOKE,
               "--target", tgt, "--tables", "region", "nation"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "MISMATCH region: schema/content error:" in out
    assert "verified nation: 25 rows (rows+checksum)" in out
    assert "FAILED: verified 2 table(s), 1 mismatched" in out


def test_cli_cdc_mode(spark, capsys, tmp_path):
    """--cdc end to end: bootstrap a base from a pure-insert log, apply
    a second log (update + delete + new key), verify the final state
    and the staged-publish survivor; flag misuse exits 2."""
    src1 = str(tmp_path / "log1")
    src2 = str(tmp_path / "log2")
    tgt = str(tmp_path / "base")
    spark.createDataFrame(
        [(1, "a", "I", 1), (2, "b", "I", 2), (3, "c", "I", 3)],
        "k long, v string, op string, seq long",
    ).write.parquet(f"{src1}/t")
    rc = main(["--source", src1, "--target", tgt, "--tables", "t", "--cdc", "k"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "cdc t: base now 3 row(s)" in out

    spark.createDataFrame(
        [(1, "a2", "U", 10), (2, "b", "D", 11), (9, "z", "I", 12)],
        "k long, v string, op string, seq long",
    ).write.parquet(f"{src2}/t")
    rc = main(["--source", src2, "--target", tgt, "--tables", "t", "--cdc", "k"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "cdc t: base now 3 row(s)" in out
    state = {r["k"]: r["v"] for r in spark.read.parquet(f"{tgt}/t").collect()}
    assert state == {1: "a2", 3: "c", 9: "z"}

    # custom metadata column names route through
    src3 = str(tmp_path / "log3")
    spark.createDataFrame(
        [(3, "c9", "U", 1)], "k long, v string, kind string, version long"
    ).write.parquet(f"{src3}/t")
    rc = main(
        [
            "--source", src3, "--target", tgt, "--tables", "t",
            "--cdc", "k", "--op-col", "kind", "--seq-col", "version",
        ]
    )
    assert rc == 0
    state = {r["k"]: r["v"] for r in spark.read.parquet(f"{tgt}/t").collect()}
    assert state[3] == "c9"

    # misuse: multiple tables, missing source, unsupported combos
    capsys.readouterr()
    assert main(["--source", src1, "--target", tgt, "--cdc", "k",
                 "--tables", "a", "b"]) == 2
    assert main(["--target", tgt, "--cdc", "k", "--tables", "t"]) == 2
    assert main(["--source", src1, "--target", tgt, "--cdc", "k",
                 "--tables", "t", "--checksum"]) == 2
    # a change log missing the op/seq columns is a hard error (3)
    src4 = str(tmp_path / "log4")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        f"{src4}/t"
    )
    capsys.readouterr()
    assert main(["--source", src4, "--target", tgt, "--tables", "t",
                 "--cdc", "k"]) == 3
    assert "lacks column" in capsys.readouterr().err


#: the smallest argv that selects each mode (no file is ever read)
_MODE_ARGV = {
    "--profile": ["--profile", "--source", SF_SMOKE],
    "--verify-only": ["--verify-only", "--source", SF_SMOKE, "--target", "/tmp/x"],
    "--cdc": ["--cdc", "k", "--source", "/tmp/s", "--target", "/tmp/x", "--tables", "t"],
    "--scd2": ["--scd2", "k", "--tracked", "c", "--as-of", "2024-01-01",
               "--source", SF_SMOKE, "--target", "/tmp/x", "--tables", "customer"],
    "--delete": ["--delete", "k", "--keys", "1", "--target", "/tmp/x"],
    "JDBC mode": ["--source", "jdbc:derby:memory:a", "--target", "jdbc:derby:memory:b",
                  "--tables", "t"],
    "--incremental": ["--incremental", "k", "--source", SF_SMOKE, "--target", "/tmp/x",
                      "--tables", "orders"],
    "copy mode": ["--source", SF_SMOKE, "--target", "/tmp/x"],
}
#: one setting of every option; --op-col/--seq-col differ from their defaults
_FLAG_ARGV = {
    "source": ["--source", "/tmp/s"], "target": ["--target", "/tmp/y"],
    "tables": ["--tables", "region"], "partitions": ["--partitions", "2"],
    "checksum": ["--checksum"], "incremental": ["--incremental", "k"],
    "scd2": ["--scd2", "k"], "tracked": ["--tracked", "c"],
    "as_of": ["--as-of", "2024-01-01"], "cdc": ["--cdc", "k"],
    "op_col": ["--op-col", "kind"], "seq_col": ["--seq-col", "version"],
    "delete": ["--delete", "k"], "keys": ["--keys", "1"],
    "profile": ["--profile"], "verify_only": ["--verify-only"],
}
# (mode, flag it does not accept) — skipping a flag that selects an
# EARLIER mode, since then that mode is the one under test
_REFUSED = [
    (m.name, dest)
    for i, m in enumerate(cli.MODES)
    for dest in (f[2:].replace("-", "_") for f in cli.OPTIONS)
    if dest not in m.accepts
    and not any(e.when(cli.parser().parse_args(_FLAG_ARGV[dest])) for e in cli.MODES[:i])
]


def test_refused_pairs_cover_every_mode():
    assert list(dict(_REFUSED)) == [m.name for m in cli.MODES]
    assert ("--scd2", "keys") in _REFUSED and ("--profile", "verify_only") in _REFUSED


@pytest.mark.parametrize("mode, dest", _REFUSED, ids=[f"{m}+{d}" for m, d in _REFUSED])
def test_cli_refuses_flags_the_mode_does_not_accept(monkeypatch, capsys, mode, dest):
    """Every mode refuses, before starting Spark, each flag it cannot
    honor — never silently drops it and reports success."""
    calls = []
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: calls.append(a))
    argv = _MODE_ARGV[mode]
    assert cli.select_mode(cli.parser(), cli.parser().parse_args(argv)).name == mode
    assert main(argv + _FLAG_ARGV[dest]) == 2
    assert "takes only" in capsys.readouterr().err
    assert calls == []
